"""Driver-side render layer — the reference's plot/table/map outputs
(U4/U5) over the serving-layer aggregates, with zero plotting dependencies.

The reference renders with ggplot (turtle-tracks.Rmd:150-180), leaflet
(app.R:206-218) and DT tables (app.R:24-34). SURVEY.md scopes rendering out
of the engine — the ENGINE's job is the aggregate — but this closes the
loop: each renderer takes the COLLECTED rows of a dashboard/serving query
(bounded by design: they are aggregates or capped marker sets) and emits
SVG/HTML strings. No matplotlib/PIL in this container; hand-rolled SVG keeps
the demo honest and dependency-free.

Scale note: nothing here touches a DataFrame — callers collect a bounded
aggregate first. The only capped collect is ``svg_map`` markers
(``MAX_MARKERS``), mirroring what any tile-served map does."""

from __future__ import annotations

import html
from collections.abc import Mapping, Sequence

W, H, PAD = 640, 360, 40
#: Markers a map draws, and so the most the dashboard collects for it.
MAX_MARKERS = 2000


def _rows(data) -> list[dict]:
    """Accept list[Row] | list[dict]; normalize to dicts."""
    return [r if isinstance(r, Mapping) else r.asDict() for r in data]


def _scale(vals: Sequence[float], lo_px: float, hi_px: float):
    lo, hi = min(vals), max(vals)
    span = (hi - lo) or 1.0
    return lambda v: lo_px + (float(v) - lo) / span * (hi_px - lo_px)


def svg_bar_chart(data, x: str, y: str, title: str = "") -> str:
    """ggplot geom_col analog (turtle-tracks.Rmd:150-162): one bar per
    category row, value-scaled, labeled axes."""
    rows = _rows(data)
    if not rows:
        return f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}"/>'
    ys = [float(r[y]) for r in rows]
    sy = _scale([0.0, max(ys)], H - PAD, PAD)
    bw = (W - 2 * PAD) / len(rows)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}">',
        f'<text x="{W / 2}" y="20" text-anchor="middle">{html.escape(title)}</text>',
        f'<line x1="{PAD}" y1="{H - PAD}" x2="{W - PAD}" y2="{H - PAD}" stroke="black"/>',
    ]
    for i, r in enumerate(rows):
        x0 = PAD + i * bw
        y0 = sy(float(r[y]))
        parts.append(
            f'<rect x="{x0 + 2:.1f}" y="{y0:.1f}" width="{bw - 4:.1f}" '
            f'height="{H - PAD - y0:.1f}" fill="steelblue"/>'
        )
        parts.append(
            f'<text x="{x0 + bw / 2:.1f}" y="{H - PAD + 15}" text-anchor="middle" '
            f'font-size="10">{html.escape(str(r[x]))}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def svg_line_chart(data, x: str, y: str, series: str | None = None, title: str = "") -> str:
    """ggplot geom_line analog (turtle-tracks.Rmd:163-180): one polyline per
    ``series`` value over an ordered x axis (dates arrive as strings/dates —
    ordinal positions carry the x scale, like a discrete date axis)."""
    rows = _rows(data)
    if not rows:
        return f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}"/>'
    xs = sorted({str(r[x]) for r in rows})
    xpos = {v: i for i, v in enumerate(xs)}
    sx = _scale([0, max(len(xs) - 1, 1)], PAD, W - PAD)
    ys = [float(r[y]) for r in rows]
    sy = _scale([0.0, max(ys)], H - PAD, PAD)
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(str(r[series]) if series else "all", []).append(r)
    palette = ["steelblue", "darkorange", "seagreen", "crimson", "purple", "gray"]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}">',
        f'<text x="{W / 2}" y="20" text-anchor="middle">{html.escape(title)}</text>',
        f'<line x1="{PAD}" y1="{H - PAD}" x2="{W - PAD}" y2="{H - PAD}" stroke="black"/>',
    ]
    for gi, (gname, grows) in enumerate(sorted(groups.items())):
        pts = sorted((xpos[str(r[x])], float(r[y])) for r in grows)
        path = " ".join(f"{sx(i):.1f},{sy(v):.1f}" for i, v in pts)
        color = palette[gi % len(palette)]
        parts.append(
            f'<polyline fill="none" stroke="{color}" stroke-width="2" points="{path}"/>'
        )
        parts.append(
            f'<text x="{W - PAD + 4}" y="{PAD + 14 * gi}" font-size="10" '
            f'fill="{color}">{html.escape(gname)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def svg_map(markers, regions=None) -> str:
    """leaflet analog (app.R:206-218): lon/lat markers with popup titles,
    optional region rectangles, equirectangular projection into the viewBox.
    ``markers`` rows need longitude/latitude/popup."""
    rows = _rows(markers)[:MAX_MARKERS]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}" '
        f'viewBox="0 0 {W} {H}">'
    ]
    sx = _scale([-180.0, 180.0], PAD, W - PAD)
    sy = _scale([-90.0, 90.0], H - PAD, PAD)
    for reg in regions or []:
        lons = [p[0] for p in reg.ring]
        lats = [p[1] for p in reg.ring]
        x0, y0 = sx(min(lons)), sy(max(lats))
        parts.append(
            f'<rect x="{x0:.1f}" y="{y0:.1f}" '
            f'width="{sx(max(lons)) - x0:.1f}" height="{sy(min(lats)) - y0:.1f}" '
            f'fill="none" stroke="gray" stroke-dasharray="4"/>'
        )
        parts.append(
            f'<text x="{x0 + 2:.1f}" y="{y0 + 12:.1f}" font-size="10" '
            f'fill="gray">{html.escape(reg.name)}</text>'
        )
    for r in rows:
        parts.append(
            f'<circle cx="{sx(float(r["longitude"])):.1f}" '
            f'cy="{sy(float(r["latitude"])):.1f}" r="3" fill="crimson" '
            f'fill-opacity="0.6"><title>{html.escape(str(r.get("popup", "")))}</title>'
            "</circle>"
        )
    parts.append("</svg>")
    return "".join(parts)


def html_table(data, max_rows: int = 100) -> str:
    """DT::datatable analog (app.R:24-34)."""
    rows = _rows(data)[:max_rows]
    if not rows:
        return "<table></table>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{html.escape(str(r[c]))}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"


def render_dashboard_html(dashboard, regions=None) -> str:
    """Compose the app.R page: status line, map, per-day series, tally table
    — each backed by ONE bounded collect of a serving-layer aggregate."""
    status = dashboard.latest_observation().collect()[0]
    markers = dashboard.map_markers().limit(MAX_MARKERS).collect()
    series = dashboard.daily_series().collect()
    tally = dashboard.tally_table().collect()
    return "\n".join(
        [
            "<!doctype html><html><head><meta charset='utf-8'>",
            "<title>Turtle tracks</title></head><body>",
            f"<p>{status['n_obs']} observations; latest: "
            f"{html.escape(str(status['latest']))}</p>",
            svg_map(markers, regions=regions),
            svg_line_chart(
                series, "observation_date", "n", series="species",
                title="Tracks per day",
            ),
            html_table(tally),
            "</body></html>",
        ]
    )

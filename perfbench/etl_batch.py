"""etl_batch: the analyst's batch path (ningaloo-etl.Rmd, then
spatial_modelling.Rmd on its CSV products), with the live track feed
(turtle-tracks.Rmd) refreshed in the same session.

One operation is one pass: ``plans.etl_graph.run_batch_etl`` over the
generated inputs (five CSV products, sites GeoJSON, QA report), then the
modelling stage on the written products: ``sources.files.read_csv`` →
``stats.hellinger`` → ``stats.fit_rda`` → ``stats.pcnm_scores`` (RDA of the
species response on the PCNM axes), then a drain of the track feed through
the streaming rollup (``feed.drain``). Closed loop, one caller, passes back
to back. There is no warm-up: an analyst runs the ETL once in a fresh
session, so the timed first pass pays class loading and code generation
as that run does.

Checks per pass: the four QA counts equal what the generator planted,
every product's CSV row count equals a DuckDB replay of the product graph
over the same input files, and the feed's rollup equals the batch tally
(``feed.check``)."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import feed
from harness import PassWorkload, dir_bytes, median, quantile

N_SITES = 61
N_SURVEYS = 50_000
N_CRAWLS = 500_000
N_NESTS = 250_000
N_DATES = 5_000
SPECIES = ("Green", "Loggerhead", "Hawksbill", "Flatback", "Unidentified")
NEST_TYPES = ("New", "Old", "Unknown")
INPUTS = ("raw_sites", "area_surveyed", "environment", "species", "raw_crawls", "nests_joined")


def _sites(rng) -> pa.Table:
    n = N_SITES
    divisions = ["Ningaloo", "Exmouth Gulf", "Muiron Islands", "Coral Bay"]
    lat = -21.8 - rng.random(n) * 1.8
    lon = 113.4 + rng.random(n) * 0.8
    div = [divisions[i % 4] for i in range(n)]
    sec = [f"S{i % 8}" for i in range(n)]
    sub = [f"Subsection {i:02d}" for i in range(n)]
    sub[7] = "Red Bluff"
    # One duplicate-subsection pair: the same name in another division
    # (the site 64/68 trap); the composite key stays unique.
    sub[n - 1] = sub[10]
    div[n - 1] = divisions[(10 + 1) % 4]
    y_min = list(lat - 0.01)
    y_min[20] = None  # one site missing a bbox corner
    return pa.table(
        {
            "id": pa.array(np.arange(1, n + 1), pa.int64()),
            "division": div,
            "section": sec,
            "subsection": sub,
            "lat": lat,
            "lon": lon,
            "y_max": lat + 0.01,
            "y_min": pa.array(y_min, pa.float64()),
            "x_max": lon + 0.01,
            "x_min": lon - 0.01,
        }
    )


def generate(seed: int, work_dir: str) -> dict:
    """Write the six input tables as Parquet; return paths, the QA counts
    the generator planted and the DuckDB replay's product row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(work_dir, exist_ok=True)
    sites = _sites(rng)

    # surveys: one site each, a timestamp, a date key into environment.
    site_idx = rng.integers(0, N_SITES, N_SURVEYS)
    epoch = dt.datetime(2010, 1, 1)
    secs = rng.integers(0, 10 * 365 * 86400, N_SURVEYS)
    fmt = rng.random(N_SURVEYS)
    stamps, raws = [], []
    for s, f in zip(secs.tolist(), fmt.tolist()):
        t = epoch + dt.timedelta(seconds=s)
        if f < 0.01:  # Ymd: date only
            t = dt.datetime(t.year, t.month, t.day)
            raws.append(t.strftime("%Y-%m-%d"))
        elif f < 0.02:  # YmdHMS
            raws.append(t.strftime("%Y-%m-%d %H:%M:%S"))
        else:  # mdyHMS, the reference's dominant format
            raws.append(f"{t.month}/{t.day}/{t.year} {t.hour}:{t.minute:02d}:{t.second:02d}")
        stamps.append(t)
    def col(t: pa.Table, name: str) -> np.ndarray:
        return np.array(t[name].to_pylist(), dtype=object)

    survey_sub = col(sites, "subsection")[site_idx]
    area = pa.table(
        {
            "survey_id": pa.array(np.arange(1, N_SURVEYS + 1), pa.int64()),
            "date_id": pa.array(rng.integers(1, N_DATES + 1, N_SURVEYS), pa.int64()),
            "date_raw": raws,
            "division": col(sites, "division")[site_idx],
            "section": col(sites, "section")[site_idx],
            "subsection": survey_sub,
            "site_disturbed": pa.array(rng.integers(1, 3, N_SURVEYS), pa.int32()),
        }
    )
    env_ids = np.arange(1, N_DATES + 1)
    env_ids = env_ids[rng.random(N_DATES) < 0.9]  # some dates lack conditions
    environment = pa.table(
        {
            "date_id": pa.array(env_ids, pa.int64()),
            "wind_speed": np.round(rng.random(len(env_ids)) * 30, 1),
            "air_temp": np.round(15 + rng.random(len(env_ids)) * 20, 1),
        }
    )
    species = pa.table(
        {"species_id": pa.array(np.arange(1, 6), pa.int64()), "species_name": list(SPECIES)}
    )

    # crawls with planted orphans (survey_id with no parent) and NA species
    # (NULL id, or an id the lookup lacks).
    n_orphan = int(rng.integers(250, 350))
    n_na = int(rng.integers(15, 30))
    survey_id = rng.integers(1, N_SURVEYS + 1, N_CRAWLS)
    orphan_rows = rng.choice(N_CRAWLS, n_orphan, replace=False)
    survey_id[orphan_rows] = N_SURVEYS + 1 + rng.integers(0, 10_000, n_orphan)
    species_id = rng.integers(1, 6, N_CRAWLS).astype(object)
    na_rows = rng.choice(N_CRAWLS, n_na, replace=False)
    for k, r in enumerate(na_rows.tolist()):
        species_id[r] = None if k % 2 == 0 else 99
    crawls = pa.table(
        {
            "crawl_id": pa.array(np.arange(1, N_CRAWLS + 1), pa.int64()),
            "survey_id": pa.array(survey_id, pa.int64()),
            "species_id": pa.array(list(species_id), pa.int64()),
            "no_false_crawls": pa.array(rng.integers(0, 5, N_CRAWLS), pa.int32()),
        }
    )

    # nests already joined to their lookups and survey (build_nests output
    # shape): the survey's timestamp and subsection ride along.
    nest_survey = rng.integers(0, N_SURVEYS, N_NESTS)
    nest_sp = rng.integers(0, len(SPECIES) + 1, N_NESTS)
    nests = pa.table(
        {
            "nest_id": pa.array(np.arange(1, N_NESTS + 1), pa.int64()),
            "survey_id": pa.array(nest_survey + 1, pa.int64()),
            "nest_type": np.array(NEST_TYPES, dtype=object)[rng.integers(0, 3, N_NESTS)],
            "species_name": np.array([*SPECIES, None], dtype=object)[nest_sp],
            "date": pa.array(
                np.array(stamps, dtype="datetime64[us]")[nest_survey],
                pa.timestamp("us", tz="UTC"),
            ),
            "subsection": survey_sub[nest_survey],
        }
    )
    tables = dict(zip(INPUTS, (sites, area, environment, species, crawls, nests)))
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(work_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    expected_qa = {
        "duplicated_sites": 1,
        "sites_missing_coords": 1,
        "orphan_crawls": n_orphan,
        "na_species_crawls": n_na,
    }
    return {
        "paths": paths,
        "expected_qa": expected_qa,
        "expected_rows": duckdb_product_rows(paths),
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "out_dir": os.path.join(work_dir, "products"),
    }


def duckdb_product_rows(paths: dict) -> dict:
    """Replay the product graph's row counts in DuckDB over the same files."""
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    con.execute(
        """
        CREATE TEMP TABLE surveys AS
        SELECT a.survey_id, a.subsection, d AS date,
               CASE WHEN month(d) > 7 THEN year(d) ELSE year(d) - 1 END AS season
        FROM (SELECT *, coalesce(
                  try_strptime(date_raw, '%m/%d/%Y %H:%M:%S'),
                  try_strptime(date_raw, '%Y-%m-%d %H:%M:%S'),
                  try_strptime(date_raw, '%Y-%m-%d')) AS d
              FROM area_surveyed) a
        LEFT JOIN environment e USING (date_id)
        LEFT JOIN raw_sites s USING (division, section, subsection)
        """
    )

    def one(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    rows = {
        "sites": one("SELECT count(*) FROM raw_sites"),
        "surveys": one("SELECT count(*) FROM surveys"),
        "crawls": one(
            "SELECT count(*) FROM raw_crawls LEFT JOIN species USING (species_id)"
            " LEFT JOIN (SELECT survey_id FROM surveys) USING (survey_id)"
        ),
        "summary_nests": one(
            "SELECT count(*) FROM (SELECT DISTINCT subsection, timezone('UTC', date) AS date"
            " FROM nests_joined WHERE nest_type = 'New') w JOIN surveys s"
            " ON w.subsection = s.subsection AND w.date = s.date"
        ),
        "summary_nests_seasons": one(
            "SELECT count(*) FROM (SELECT DISTINCT n.subsection, s.season"
            " FROM nests_joined n LEFT JOIN surveys s USING (survey_id)"
            " WHERE n.nest_type = 'New') w JOIN surveys s"
            " ON w.subsection = s.subsection AND w.season = s.season"
        ),
    }
    con.close()
    return rows


def _csv_rows(path: str) -> int:
    n = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f), "rb") as fh:
                n += max(0, sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b"")) - 1)
    return n


def _csv_schema(path: str, types: dict) -> str:
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".csv"))
    with open(os.path.join(path, part)) as f:
        header = f.readline().strip().split(",")
    return ", ".join(f"`{c}` {types.get(c, 'string')}" for c in header)


def load_inputs(spark, inputs: dict) -> dict:
    from ningaloo_turtle_etl_spark.sources.files import load_snapshot

    return {name: load_snapshot(spark, path) for name, path in inputs["paths"].items()}


def one_pass(spark, inputs: dict, tracer, sink_bytes: list[int]) -> dict:
    """Run the ETL graph, the modelling stage and the feed drain once;
    return check data."""
    from ningaloo_turtle_etl_spark import stats
    from ningaloo_turtle_etl_spark.plans.etl_graph import run_batch_etl
    from ningaloo_turtle_etl_spark.sources.files import read_csv

    out_dir = inputs["out_dir"]
    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("plans.run_batch_etl"):
        result = run_batch_etl(load_inputs(spark, inputs), out_dir)

    types = {c: "double" for c in SPECIES} | {
        "survey_id": "bigint",
        "wind_speed": "double",
        "air_temp": "double",
        "lat": "double",
        "lon": "double",
    }
    with tracer.span("sources.read_csv"):
        sn_path = os.path.join(out_dir, "summary_nests_csv")
        sv_path = os.path.join(out_dir, "surveys_csv")
        sn = read_csv(spark, sn_path, _csv_schema(sn_path, types))
        sv = read_csv(spark, sv_path, _csv_schema(sv_path, types))
    model_in = sn.join(
        sv.select("survey_id", "wind_speed", "air_temp", "lat", "lon"), "survey_id"
    ).dropna(subset=["wind_speed", "air_temp", "lat", "lon"])
    with tracer.span("stats.hellinger_rda"):
        y = stats.hellinger(model_in, SPECIES)
        _, r2_env = stats.fit_rda(y, SPECIES, ["wind_speed", "air_temp"])
    with tracer.span("stats.pcnm_scores"):
        scored = stats.pcnm_scores(y, ["lat", "lon"], n_vectors=4)
        pcnm_cols = [c for c in scored.columns if c.startswith("PCNM")]
        _, r2_space = stats.fit_rda(scored, SPECIES, pcnm_cols)
    progress, run_id = feed.drain(spark, inputs["feed"], tracer, sink_bytes)
    return {
        "qa": result.qa,
        "r2": [*r2_env, *r2_space],
        "feed_progress": progress,
        "feed_run_id": run_id,
    }


def check_pass(inputs: dict, out: dict) -> list[str]:
    errors = []
    if out["qa"] != inputs["expected_qa"]:
        errors.append(f"qa {out['qa']} != planted {inputs['expected_qa']}")
    for name, want in inputs["expected_rows"].items():
        got = _csv_rows(os.path.join(inputs["out_dir"], f"{name}_csv"))
        if got != want:
            errors.append(f"{name}: {got} CSV rows, DuckDB replay {want}")
    if not all(np.isfinite(v) and -1e-9 <= v <= 1 + 1e-9 for v in out["r2"]):
        errors.append(f"model R² out of range: {out['r2']}")
    for f in ("sites.geojson", "qa_report.json", "qa_run_report.md"):
        if not os.path.exists(os.path.join(inputs["out_dir"], f)):
            errors.append(f"missing {f}")
    return errors


class EtlBatch(PassWorkload):
    label = "etl_pass"

    def __init__(self, seed: int, work_dir: str, seconds: float):
        super().__init__()
        self.inputs = generate(seed, work_dir)
        self.inputs["feed"] = feed.generate(seed, os.path.join(work_dir, "tracks"))
        self.bytes_ratio: list[float] = []
        self.spark = None
        self.feed_progress: list[dict] = []
        self.sink_bytes: list[int] = []

    def instrument(self, tracer) -> None:
        from ningaloo_turtle_etl_spark.plans import etl_graph, qa_report

        tracer.wrap(
            etl_graph,
            "write_csv",
            lambda a, k: f"sources.write_csv[{os.path.basename(a[1])}]",
        )
        tracer.wrap(etl_graph, "write_feature_collection", "sources.write_feature_collection")

        def per_check(original):
            # run_qa evaluates checks independently; one call per check
            # gives each check's actions their own span.
            def run(checks, *args, **kwargs):
                out = {}
                with tracer.span("plans.run_qa"):
                    for check in checks:
                        with tracer.span("operators.quality_check"):
                            out.update(original([check], *args, **kwargs))
                return out

            return run

        tracer.patch(qa_report, "run_qa", per_check)

    def run_pass(self, spark, tracer) -> dict:
        self.spark = spark
        out = one_pass(spark, self.inputs, tracer, self.sink_bytes)
        self.job_groups.append(out["feed_run_id"])
        self.feed_progress += out["feed_progress"]
        return out

    def check(self, out: dict) -> list[str]:
        self.bytes_ratio.append(dir_bytes(self.inputs["out_dir"]) / self.inputs["input_bytes"])
        return check_pass(self.inputs, out) + feed.check(self.spark, self.inputs["feed"])

    def layer_metrics(self, tracer) -> dict:
        def m(prefix: str, **kw) -> float:
            return median(tracer.per_op_sum(prefix, **kw))

        return {
            "sources.write_csv_s": (m("sources.write_csv["), "s"),
            "sources.write_csv.crawls_s": (m("sources.write_csv[crawls_csv]"), "s"),
            "sources.write_feature_collection_s": (m("sources.write_feature_collection"), "s"),
            "sources.read_csv_s": (m("sources.read_csv"), "s"),
            "sources.bytes_written_per_input_byte": (median(self.bytes_ratio), "count"),
            "plans.run_batch_etl_self_s": (m("plans.run_batch_etl", self_time=True), "s"),
            "plans.run_qa_s": (m("plans.run_qa"), "s"),
            "operators.quality_checks_s": (m("operators.quality_check"), "s"),
            "stats.hellinger_rda_s": (m("stats.hellinger_rda"), "s"),
            "stats.pcnm_scores_s": (m("stats.pcnm_scores"), "s"),
            **self._streaming_metrics(tracer),
        }

    def _streaming_metrics(self, tracer) -> dict:
        progress = self.feed_progress
        trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        rows = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
        state = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p["stateOperators"]]
        return {
            "sources.stream_table_dir_s": (median(tracer.per_op_sum("sources.stream_table_dir")), "s"),
            "streaming.batch_p50_s": (median(trig), "s"),
            "streaming.batch_p90_s": (quantile(trig, 0.9), "s"),
            "streaming.sink_upsert_p50_s": (median(tracer.durations("streaming.sink_upsert")), "s"),
            "streaming.rows_per_batch_p50": (median(rows), "count"),
            "streaming.sink_bytes_rewritten_per_batch": (median(self.sink_bytes), "count"),
            "streaming.state_rows_end": (state[-1], "count"),
        }

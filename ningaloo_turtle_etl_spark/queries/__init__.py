"""Registered oracle-checked queries, grouped by SURVEY.md §2 section.

Importing this package populates the registry (see registry.py).
"""

import ningaloo_turtle_etl_spark.queries.aggregations  # noqa: F401
import ningaloo_turtle_etl_spark.queries.analytics  # noqa: F401
import ningaloo_turtle_etl_spark.queries.core  # noqa: F401
import ningaloo_turtle_etl_spark.queries.extended  # noqa: F401
import ningaloo_turtle_etl_spark.queries.geo  # noqa: F401
import ningaloo_turtle_etl_spark.queries.joins  # noqa: F401
import ningaloo_turtle_etl_spark.queries.linkage  # noqa: F401
import ningaloo_turtle_etl_spark.queries.llm_ops  # noqa: F401
import ningaloo_turtle_etl_spark.queries.olap  # noqa: F401
import ningaloo_turtle_etl_spark.queries.privacy  # noqa: F401
import ningaloo_turtle_etl_spark.queries.projection  # noqa: F401
import ningaloo_turtle_etl_spark.queries.scalars  # noqa: F401
import ningaloo_turtle_etl_spark.queries.setops  # noqa: F401
import ningaloo_turtle_etl_spark.queries.spatial  # noqa: F401
import ningaloo_turtle_etl_spark.queries.stats_queries  # noqa: F401
import ningaloo_turtle_etl_spark.queries.streaming_batch  # noqa: F401
import ningaloo_turtle_etl_spark.queries.temporal  # noqa: F401
import ningaloo_turtle_etl_spark.queries.webtext  # noqa: F401
import ningaloo_turtle_etl_spark.queries.windows  # noqa: F401

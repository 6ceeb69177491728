"""shuttle_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of cubefs/shuttle.

The reference (/root/reference) is a Remote Shuffle Service for Spark: it sits
underneath every shuffle-inducing operation (groupBy/agg, joins, distinct,
repartition, sort, windows) and moves the intermediate data.  This engine
re-expresses that capability surface Spark-first: the logical plan is declared
with the DataFrame/SQL API, Catalyst + Tungsten + AQE play the role of the
reference's writers/workers/master (see SURVEY.md §0, §3.4), and the
engine-level twins of the reference's integrity/lineage semantics (checksums,
stale-attempt filtering, duplicate-block dedup) are exposed as first-class
operators.

Layout:
  session.py        SparkSession factory (conf embodiment of SURVEY §4)
  catalog.py        testdata parquet catalog -> temp views
  cache.py          the one session-cache policy (DFCache, cache_key)
  observability.py  observe() metrics and per-stage status-store accounting
  pydaemon.py       Python-worker daemon module (spark.python.daemon.module)
  testing.py        Spark-vs-DuckDB row comparison helpers
  jvm/              Java kernels and local filesystem, compiled by session.py
  operators/        multi-call operators (relational, dedup, near-dup,
                    similarity, integrity, lineage, pipeline, multimodal)
  functions/        column-level helpers (text analysis, vectors, checksums)
  sources/          readers and multimodal binary-column plumbing
  streaming/        Structured Streaming twins of the batch operators
  plans/            physical-plan audit helpers (pushdown/broadcast/partial-agg)
  contracts.py      the SURVEY §2.B contract registry (queries + DuckDB oracles)
"""

__version__ = "0.1.0"

from shuttle_spark.session import get_session  # noqa: F401
from shuttle_spark.catalog import TABLES, load_tables, register_views  # noqa: F401

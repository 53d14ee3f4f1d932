"""``fixtures.events`` reads the events table without touching the
session conf, in both shipped ``ts`` encodings."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType

from emiproc_spark import fixtures as fx
from emiproc_spark.session import scoped_conf

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_leaves_the_session_conf_unchanged(spark, sf_dir):
    with scoped_conf(spark, NANOS_AS_LONG, "false"):
        before = dict(spark.conf.getAll)
        fx.events(spark, sf_dir).limit(1).collect()
        assert dict(spark.conf.getAll) == before


def test_nanosecond_timestamps_read_as_epoch_ns_bigint(spark, tmp_path):
    """The session declares ``nanosAsLong``, so a TIMESTAMP(NANOS) ``ts``
    keeps its sub-microsecond digits as an epoch-ns BIGINT."""
    ns = [1_700_000_000_123_456_789, 0, 86_400_000_000_000_001]
    table = pa.table(
        {
            "ts": pa.array(ns, pa.timestamp("ns")),
            "value": pa.array([1.0, 2.0, 3.0]),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")

    ev = fx.events(spark, str(tmp_path))
    assert isinstance(ev.schema["ts"].dataType, LongType)
    assert sorted(r["ts"] for r in ev.collect()) == sorted(ns)

"""``no_data_batches=False`` must not change a query's result.

``q_stream_dedup`` and ``q_stream_sessionize`` skip the trailing
no-data micro-batch.  That is only sound if every output row is
emitted by a data batch, so run both queries as written and again
with ``run_available_now`` forced to ``no_data_batches=True``, and
compare the frames.
"""

import pytest

from emiproc_spark.driver_queries_r3b import q_stream_dedup
from emiproc_spark.driver_queries_r3c import q_stream_sessionize
from emiproc_spark.streaming import streams


@pytest.mark.parametrize("q", [q_stream_dedup, q_stream_sessionize])
def test_skipping_no_data_batches_keeps_the_frame(spark, sf_dir, monkeypatch, q):
    as_written = sorted(q(spark, sf_dir).collect())

    original = streams.run_available_now
    settings = []

    def with_no_data_batches(out, query_name, output_mode="append",
                             no_data_batches=True, timeout=None):
        settings.append(no_data_batches)
        return original(out, query_name, output_mode,
                        no_data_batches=True, timeout=timeout)

    monkeypatch.setattr(streams, "run_available_now", with_no_data_batches)
    forced = sorted(q(spark, sf_dir).collect())

    assert settings == [False], "the query no longer skips no-data batches"
    assert as_written, "empty result checks nothing"
    assert forced == as_written

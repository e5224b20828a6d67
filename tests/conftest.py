from __future__ import annotations

import pytest

from twitter_flink_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tfs-tests")
    yield spark
    spark.stop()


@pytest.fixture
def sink_jobs(spark, monkeypatch):
    """Wrap every foreachBatch sink the test starts; the returned list
    gets one (batch_id, jobs submitted, schema-less parquet reads)
    triple per micro-batch. A `read.parquet` without a schema is one
    footer-inference job (launched while the frame is built, before any
    action), so a read that passes its schema launches none."""
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    real_parquet = DataFrameReader.parquet
    real_sink = DataStreamWriter.foreachBatch
    schemaless = []
    calls = []

    def parquet(self, *paths, **options):
        if self._jreader.userSpecifiedSchema().isEmpty():
            schemaless.append(paths)
        return real_parquet(self, *paths, **options)

    def counting(self, func):
        def counted(batch_df, batch_id):
            jobs, reads = dag.numTotalJobs(), len(schemaless)
            func(batch_df, batch_id)
            calls.append((
                batch_id,
                dag.numTotalJobs() - jobs,
                schemaless[reads:],
            ))

        return real_sink(self, counted)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    monkeypatch.setattr(DataStreamWriter, "foreachBatch", counting)
    return calls

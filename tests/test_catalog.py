"""The catalog's process-wide schema registry (catalog._SCHEMAS): a
session reads a testdata file with the schema an earlier session
inferred, but only while the file's size and mtime are unchanged, so a
rewritten file is inferred again and never served a stale schema. The
events ``ts`` conversion still dispatches on the type read when the
schema comes from the registry."""

import inspect
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType

from amplab_hive_spark import catalog


def test_rewritten_file_is_never_served_a_stale_schema(spark, sf_dir, tmp_path):
    src = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 50)
    # the TIMESTAMP(NANOS) generation: the registry keeps the raw long,
    # which each session converts to microseconds
    i = src.schema.get_field_index("ts")
    nanos = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp("ns")))
    path = tmp_path / "events.parquet"
    pq.write_table(nanos, path)
    want = sorted(zip(src.column("event_id").to_pylist(),
                      src.column("ts").to_pylist()))

    def events():
        return catalog.load_tables(spark.newSession(), str(tmp_path))["events"]

    for df in (events(), events()):  # inferred, then from the registry
        assert sorted(tuple(r) for r in df.select("event_id", "ts").collect()) == want
    (_, schema), = [v for (p, _), v in catalog._SCHEMAS.items() if p == str(path)]
    assert schema["ts"].dataType == LongType()

    pq.write_table(nanos.append_column("extra", pa.array(range(50))), path)
    df = events()
    assert df.columns == nanos.column_names + ["extra"]
    assert sorted(r.extra for r in df.select("extra").collect()) == list(range(50))


def test_load_tables_reads_through_the_schema_registry():
    """A bare ``spark.read.parquet(`` in ``load_tables`` would bring
    back one schema-inference job per table on every new session."""
    assert "spark.read.parquet(" not in inspect.getsource(catalog.load_tables)

"""Contract test for TableIO's Iceberg branch (hexspark/pipeline/io.py).

No Iceberg runtime jar exists in this sandbox, so the branch cannot run
against a real catalog; this drives every Iceberg code path through a
duck-typed fake session and asserts the exact catalog/table calls a real
`org.apache.iceberg.spark.SparkCatalog` would receive. The parquet branch
is covered for real by tests/test_resume.py.
"""

from __future__ import annotations

import os


from hexspark.pipeline.io import TableIO


class _FakeConf:
    def __init__(self, values):
        self._values = values

    def get(self, key, default=None):
        return self._values.get(key, default)


class _FakeWriter:
    def __init__(self, log, table):
        self._log = log
        self._table = table

    def partitionedBy(self, *cols):
        self._log.append(("partitionedBy", self._table, len(cols)))
        return self

    def createOrReplace(self):
        self._log.append(("createOrReplace", self._table))

    def append(self):
        self._log.append(("append", self._table))


class _FakeDF:
    def __init__(self, log):
        self._log = log

    def writeTo(self, table):
        return _FakeWriter(self._log, table)


class _FakeCatalog:
    def __init__(self, log, existing):
        self._log = log
        self._existing = existing

    def tableExists(self, name):
        self._log.append(("tableExists", name))
        return name in self._existing


class _FakeFrame:
    """A metadata table: select(...) then collect() its rows."""

    def __init__(self, log, name, rows):
        self._log = log
        self._name = name
        self._rows = rows

    def select(self, *cols):
        self._log.append(("select", self._name, cols))
        return self

    def collect(self):
        return list(self._rows)


class _FakeRead:
    def __init__(self, log, files):
        self._log = log
        self._files = files

    def table(self, name):
        self._log.append(("readTable", name))
        if name in self._files:
            return _FakeFrame(self._log, name, self._files[name])
        return f"df:{name}"


class _FakeSpark:
    def __init__(self, conf_values, existing=(), namespace_error=False, files=None):
        self.log = []
        self.conf = _FakeConf(conf_values)
        self.catalog = _FakeCatalog(self.log, set(existing))
        self.read = _FakeRead(self.log, files or {})
        self._namespace_error = namespace_error

    def createDataFrame(self, rows, schema):
        self.log.append(("createDataFrame", len(rows), schema))
        return _FakeDF(self.log)

    def sql(self, query):
        self.log.append(("sql", query))
        if self._namespace_error:
            raise RuntimeError("Catalog 'lake' not found")


ICEBERG_CONF = {"hexspark.catalog": "lake", "hexspark.warehouse": "erns"}


def test_iceberg_branch_probes_namespace_and_routes_tables(spark, tmp_path):
    fake = _FakeSpark(ICEBERG_CONF, existing={"lake.erns.signatures"})
    io = TableIO(fake, str(tmp_path))
    assert io.use_iceberg is True
    assert ("sql", "CREATE NAMESPACE IF NOT EXISTS lake.erns") in fake.log

    assert io.exists("signatures") is True
    assert io.exists("edges") is False
    assert ("tableExists", "lake.erns.signatures") in fake.log

    io.write(_FakeDF(fake.log), "edges")
    assert ("createOrReplace", "lake.erns.edges") in fake.log

    io.write(_FakeDF(fake.log), "candidate_pairs", partition_by=["band_id"])
    assert ("partitionedBy", "lake.erns.candidate_pairs", 1) in fake.log
    assert ("createOrReplace", "lake.erns.candidate_pairs") in fake.log

    io.append(_FakeDF(fake.log), "metrics")
    assert ("append", "lake.erns.metrics") in fake.log

    # driver-built rows replace the table: a rerun leaves one row set
    io.write_rows([(3, 7, 40, True)], "skipped_schema", "skipped_blocks")
    assert ("createDataFrame", 1, "skipped_schema") in fake.log
    assert ("createOrReplace", "lake.erns.skipped_blocks") in fake.log
    assert ("append", "lake.erns.skipped_blocks") not in fake.log

    assert io.read("signatures") == "df:lake.erns.signatures"


def test_iceberg_stage_accounting_reads_the_files_metadata_table(tmp_path):
    """On Iceberg a stage's per-file rows and bytes come from
    `<ns>.<table>.files`, its stage_metrics rows are appended as one
    driver-built frame, and the read-back is the catalog table."""
    from hexspark.pipeline.metrics import METRICS_SCHEMA, record_stage

    files = {
        "lake.erns.edges.files": [
            ("s3://lake/erns/edges/data/b.parquet", 5, 700),
            ("s3://lake/erns/edges/data/a.parquet", 3, 500),
        ]
    }
    fake = _FakeSpark(ICEBERG_CONF, files=files)
    io = TableIO(fake, str(tmp_path / "wd"))
    assert io.data_files("edges") == [(3, 500), (5, 700)]
    assert ("readTable", "lake.erns.edges.files") in fake.log
    assert (
        "select", "lake.erns.edges.files",
        ("file_path", "record_count", "file_size_in_bytes"),
    ) in fake.log

    fake.log.clear()
    marks = []
    manifest = {"run_id": "r1", "completed": {}}
    out = record_stage(
        io, manifest, "edges", METRICS_SCHEMA, 42, lambda m, s, e: marks.append((s, e))
    )
    assert out == "df:lake.erns.edges"
    assert marks == [
        ("edges", {
            "rows": 8, "wall_ms": 42, "files": 2, "bytes": 1200,
            "schema": METRICS_SCHEMA.jsonValue(),
        })
    ]
    assert manifest["executions"] == 1
    assert ("createDataFrame", 2, METRICS_SCHEMA) in fake.log
    assert ("append", "lake.erns.stage_metrics") in fake.log
    assert not os.path.exists(tmp_path / "wd")  # nothing written locally


def test_iceberg_probe_failure_falls_back_to_parquet(tmp_path):
    fake = _FakeSpark(ICEBERG_CONF, namespace_error=True)
    io = TableIO(fake, str(tmp_path))
    assert io.use_iceberg is False
    assert io.exists("signatures") is False  # parquet path, no _SUCCESS


def test_no_catalog_conf_means_parquet(tmp_path):
    fake = _FakeSpark({})
    io = TableIO(fake, str(tmp_path))
    assert io.use_iceberg is False
    assert fake.log == []  # no namespace probe without a configured catalog

"""Ingestion-subsystem tests: CSV semi-structured pipeline, JSON source,
catalog provenance, the xlsx parser and landing-zone ingestion."""

import os

import pytest
from pyspark.sql import functions as F

from datalake_local_spark.catalog import InfoCatalog
from datalake_local_spark.sources import csv_lines, excel, json_source, xlsx_native

SALES_FILE = """HEADER JUNK
1/2/2024 Venta Animales: 12 Documento salida: 777 vaca blanca
nota que no es venta
15/3 Venta Animales: 3 Documento salida: 888
RECRIASIN fin de seccion
9/9/2024 Venta Animales: 99 Documento salida: 999 despues del sentinel
"""


def test_csv_lines_parse_and_sentinel(spark, tmp_path):
    p = tmp_path / "granja_sur.csv"
    # the reference reads landing CSVs as latin-1 (assets.py:149-154): a
    # non-ASCII byte must decode, not turn into U+FFFD
    p.write_text(
        "3/1/2024 Venta Animales: 4 Documento salida: 776 vaca año niño\n" + SALES_FILE,
        encoding="latin-1",
    )
    out = csv_lines.ingest_csv_lines(spark, str(p)).collect()
    # sentinel cuts the last sale; non-matching lines filtered
    assert len(out) == 3
    by_doc = {r["documento_salida"]: r for r in out}
    assert by_doc[776]["extra"] == "vaca año niño"
    assert by_doc[777]["fecha"] == "1/2/2024"
    assert by_doc[777]["n_animales"] == 12
    assert by_doc[777]["extra"] == "vaca blanca"
    assert by_doc[777]["name_farm"] == "granja_sur"
    assert by_doc[888]["fecha"] == "15/3"
    assert 999 not in by_doc


def test_csv_lines_schema(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("1/1 Venta Animales: 1 Documento salida: 2\n")
    df = csv_lines.ingest_csv_lines(spark, str(p))
    assert [f.name for f in df.schema.fields] == [
        "name_farm", "prefix", "fecha", "n_animales", "documento_salida", "extra",
    ]
    assert dict((f.name, f.dataType.typeName()) for f in df.schema.fields)["n_animales"] == "long"


def test_json_ingest_roundtrip(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    with InfoCatalog(spark) as cat:
        df = json_source.ingest_json(spark, str(p), "testdb_json", "t1", cat)
    assert df.count() == 2
    assert spark.table("testdb_json.t1").count() == 2
    files = spark.table("info.files")
    assert files.filter(F.col("table_name") == "testdb_json.t1").count() == 1


def test_parse_props_column(tables):
    out = json_source.parse_props_column(tables["events"].limit(10))
    rows = out.select("props", "props_struct.k").collect()
    for r in rows:
        import json

        assert r["k"] == json.loads(r["props"])["k"]


def test_catalog_provenance_and_audit(spark):
    df = spark.range(5).withColumnRenamed("id", "v")
    with InfoCatalog(spark) as cat:
        fqn = cat.save_ingested(df, "testdb_prov", "numbers")
    assert fqn == "testdb_prov.numbers"
    assert spark.table(fqn).count() == 5
    assert cat.rows_written == {fqn: 5}
    assert cat.database_exists("testdb_prov")
    # one save: exactly one info.files row and the two audit rows, each
    # value in its own column (a marker bound to the wrong column would
    # move 'ingest' into target)
    ops = (
        spark.table("info.operations")
        .filter(F.col("target").isin("testdb_prov", fqn))
        .select("op", "target", "detail", F.col("ts").isNotNull().alias("has_ts"))
        .collect()
    )
    assert sorted(tuple(r) for r in ops) == [
        ("create_database", "testdb_prov", "", True),
        ("ingest", fqn, "mode=overwrite", True),
    ]
    files = spark.table("info.files").filter(F.col("table_name") == fqn).collect()
    assert len(files) == 1 and files[0]["creation"] is not None
    # idempotent overwrite re-run (reference D2 'IF NOT EXISTS' semantics)
    # in a second pass
    with cat:
        cat.save_ingested(df, "testdb_prov", "numbers")
    assert spark.table(fqn).count() == 5


def test_ingest_write_path_builds_no_python_list_frames(spark, tmp_path, monkeypatch):
    """Regression guard on the write path. A Python-list
    ``createDataFrame`` goes through ``SparkContext.parallelize`` and runs
    a Python-worker job when written, so the whole landing ingest must
    never call it. Saving a 5-row frame and flushing its pass costs the
    table write plus one INSERT per info table (one Python-list frame per
    provenance row made it 4 jobs), and the landing inventory collects
    without a job."""
    import uuid

    from datalake_local_spark.sources import landing

    sc = spark.sparkContext

    def no_parallelize(*_a, **_kw):
        raise AssertionError("Python-list frame built on the ingest write path")

    monkeypatch.setattr(sc, "parallelize", no_parallelize)

    def jobs(fn):
        group = f"write-path-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "write path jobs")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def save_and_flush():
        with InfoCatalog(spark) as cat:
            cat.save_ingested(spark.range(5).withColumnRenamed("id", "v"), "testdb_jobs", "five")

    assert jobs(save_and_flush) <= 3

    zone = tmp_path / "write_path_zone"
    (zone / "jobs_zone").mkdir(parents=True)
    (zone / "jobs_zone" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
    )
    (zone / "jobs_zone" / "extra.jsonl").write_text('{"a": 7}\n')
    _write_minimal_xlsx(zone / "jobs_zone" / "libro.xlsx", {"s": (["k"], [[1], [2]])})
    assert jobs(lambda: landing.discover_landing(spark, str(zone)).collect()) == 0
    assert landing.ingest_landing(spark, str(zone)) == {
        "jobs_zone.extra": 1,
        "jobs_zone.libro_s": 2,
        "jobs_zone.ventas": 1,
    }


def test_landing_discovery_and_dispatch(spark, tmp_path):
    from datalake_local_spark.sources import landing

    root = tmp_path / "landing"
    (root / "granja%uno").mkdir(parents=True)
    (root / "configuration").mkdir()  # P1: must be excluded
    (root / "granja%uno" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
    )
    (root / "granja%uno" / "extra.jsonl").write_text('{"a": 7}\n')
    (root / "configuration" / "skip.csv").write_text("x\n")

    inv = landing.discover_landing(spark, str(root)).collect()
    assert {r["bucket"] for r in inv} == {"granja%uno"}
    assert {r["ext"] for r in inv} == {"csv", "jsonl"}

    written = landing.ingest_landing(spark, str(root))
    assert written == {"granjaporcentaje_uno.ventas": 1, "granjaporcentaje_uno.extra": 1}
    assert spark.table("granjaporcentaje_uno.ventas").collect()[0]["n_animales"] == 5


def test_ingest_landing_counts_are_the_written_tables(spark, tmp_path):
    """``ingest_landing`` returns the row counts observed at write time;
    each must equal a scan of the table it wrote. A sentinel-cut CSV, a
    CSV with no sale line (an empty table, observed as 0), a JSONL file
    and a workbook whose empty sheet makes no table and no ``info.files``
    row."""
    from datalake_local_spark.sources import landing

    root = tmp_path / "landing_counts"
    (root / "counts_zone").mkdir(parents=True)
    (root / "counts_zone" / "granja.csv").write_text(SALES_FILE, encoding="latin-1")
    (root / "counts_zone" / "sin_ventas.csv").write_text("nota sin ventas\n")
    (root / "counts_zone" / "pedidos.jsonl").write_text('{"a": 1}\n{"a": 2}\n{"a": 3}\n')
    _write_minimal_xlsx(
        root / "counts_zone" / "libro.xlsx",
        {
            "hoja": (["k", "v"], [[1, "x"], [2, "y"]]),
            "vacia": (["a"], []),
            # headers that collide once sanitized (Spark names are
            # case-insensitive) must not abort the landing ingest
            "totales": (["Total", "total", "total_2"], [[1, 2, 3]]),
        },
    )

    written = landing.ingest_landing(spark, str(root))
    assert written == {
        "counts_zone.granja": 2,  # the sale after RECRIASIN is cut
        "counts_zone.sin_ventas": 0,
        "counts_zone.pedidos": 3,
        "counts_zone.libro_hoja": 2,
        "counts_zone.libro_totales": 1,
    }
    totales = spark.table("counts_zone.libro_totales")
    assert totales.columns == ["Total", "total_3", "total_2"]
    assert tuple(totales.first()) == (1, 2, 3)
    for fqn, n in written.items():
        assert spark.table(fqn).count() == n, fqn
    assert not spark.catalog.tableExists("counts_zone.libro_vacia")
    registered = {r["table_name"] for r in spark.table("info.files").collect()}
    assert set(written) <= registered
    assert "counts_zone.libro_vacia" not in registered


def test_landing_discovery_from_uri_root(spark, tmp_path):
    """URI roots (file:// here; s3a:// config-identically) route through
    the Hadoop FileSystem client and must yield the same inventory and
    ingest results as the plain-path walk."""
    from datalake_local_spark.sources import landing

    root = tmp_path / "landing_uri"
    (root / "farm_a" / "nested").mkdir(parents=True)
    (root / "configuration").mkdir()
    (root / "farm_a" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
    )
    (root / "farm_a" / "nested" / "extra.jsonl").write_text('{"a": 7}\n')
    (root / "configuration" / "skip.csv").write_text("x\n")

    uri_root = f"file://{root}"
    inv = landing.discover_landing(spark, uri_root).collect()
    assert {r["bucket"] for r in inv} == {"farm_a"}
    assert {r["ext"] for r in inv} == {"csv", "jsonl"}  # nested file found (S2)
    assert all(r["path"].startswith("file:") for r in inv)

    plain = landing.discover_landing(spark, str(root)).collect()
    assert {(r["bucket"], r["name"], r["size_bytes"]) for r in inv} == {
        (r["bucket"], r["name"], r["size_bytes"]) for r in plain
    }

    written = landing.ingest_landing(spark, uri_root)
    assert written == {"farm_a.ventas": 1, "farm_a.extra": 1}
    assert spark.table("farm_a.ventas").collect()[0]["n_animales"] == 5


def test_ingest_landing_rejects_colliding_tables(spark, tmp_path):
    """Two landing files that map to one table (a nested file with the
    same stem, or ``.json`` beside ``.jsonl``) must not overwrite each
    other: the second save of the table raises ``ValueError`` naming it
    before its write, the table keeps exactly one file's rows, and
    ``info.files`` registers it once. The other tables are still written."""
    from datalake_local_spark.sources import landing

    root = tmp_path / "landing_collide"
    (root / "zona" / "sub").mkdir(parents=True)
    (root / "zona" / "ventas.csv").write_text(SALES_FILE, encoding="latin-1")
    (root / "zona" / "sub" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
    )
    (root / "zona" / "pedidos.json").write_text('{"a": 1}\n')
    (root / "zona" / "pedidos.jsonl").write_text('{"b": "x"}\n{"b": "y"}\n')
    (root / "zona" / "clientes.jsonl").write_text('{"c": 1}\n')

    with pytest.raises(ValueError, match=r"zona\.(ventas|pedidos)") as raised:
        landing.ingest_landing(spark, str(root))
    # one collision is raised, the other noted on it
    report = "\n".join([str(raised.value), *getattr(raised.value, "__notes__", [])])
    assert "zona.ventas" in report and "zona.pedidos" in report

    docs = sorted(r["documento_salida"] for r in spark.table("zona.ventas").collect())
    assert docs in ([777, 888], [10])  # one file's rows, whole
    pedidos = spark.table("zona.pedidos")
    assert (pedidos.columns, pedidos.count()) in ((["a"], 1), (["b"], 2))
    assert spark.table("zona.clientes").count() == 1
    registered = (
        spark.table("info.files").filter(F.col("table_name").startswith("zona.")).collect()
    )
    assert sorted(r["table_name"] for r in registered) == [
        "zona.clientes", "zona.pedidos", "zona.ventas",
    ]

    # the claim is case-insensitive, like Spark's table names, and ends
    # with the pass
    df = spark.range(3).withColumnRenamed("id", "v")
    with InfoCatalog(spark) as cat:
        cat.save_ingested(df, "zona", "claimed")
        with pytest.raises(ValueError, match=r"zona\.Claimed"):
            cat.save_ingested(spark.range(7), "zona", "Claimed")
    assert spark.table("zona.claimed").columns == ["v"]
    with cat:
        cat.save_ingested(spark.range(7), "zona", "claimed")
    assert spark.table("zona.claimed").count() == 7


def test_ingest_landing_failing_file_does_not_stop_the_pass(spark, tmp_path):
    """A corrupt workbook beside a good CSV: the CSV table is still
    written and registered, then the workbook's failure is raised with
    its path noted on it."""
    import zipfile

    from datalake_local_spark.sources import landing

    root = tmp_path / "landing_fail"
    (root / "fallo").mkdir(parents=True)
    (root / "fallo" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
    )
    (root / "fallo" / "roto.xlsx").write_bytes(b"not a workbook")

    with pytest.raises(zipfile.BadZipFile) as raised:
        landing.ingest_landing(spark, str(root))
    assert any("roto.xlsx" in note for note in raised.value.__notes__)
    assert spark.table("fallo.ventas").collect()[0]["n_animales"] == 5
    files = spark.table("info.files").filter(F.col("table_name") == "fallo.ventas").collect()
    assert len(files) == 1


def test_ingest_landing_pass_runs_in_caller_group_and_flushes_once(
    spark, tmp_path, monkeypatch
):
    """One pass over four tables (two sale-line CSVs, a JSONL file and a
    one-sheet workbook). The pool's threads inherit the caller's local
    properties, so every table write and the two INSERTs of the flush run
    in the caller's job group (a thread without them files its jobs under
    no group, out of reach of the group's metrics and of
    ``cancelJobGroup``). The provenance is one ``register_table`` and one
    ``log_operation`` call, and its rows are the ones a save-by-save write
    made: ``create_database`` and ``ingest`` per table, each value in its
    own column, and one ``info.files`` row per table."""
    import uuid

    from datalake_local_spark.sources import landing

    calls = {"register_table": 0, "log_operation": 0}
    for name in calls:
        real = getattr(InfoCatalog, name)

        def spy(self, *args, _name=name, _real=real):
            calls[_name] += 1
            return _real(self, *args)

        monkeypatch.setattr(InfoCatalog, name, spy)

    bucket = tmp_path / "pasada_zone"
    bucket.mkdir()
    (bucket / "norte.csv").write_text("1/2/2024 Venta Animales: 5 Documento salida: 10\n")
    (bucket / "sur.csv").write_text(SALES_FILE, encoding="latin-1")
    (bucket / "pedidos.jsonl").write_text('{"a": 1}\n{"a": 2}\n')
    _write_minimal_xlsx(bucket / "libro.xlsx", {"s": (["k"], [[1], [2], [3]])})

    sc = spark.sparkContext
    group = f"ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "landing ingest pass")
    try:
        written = landing.ingest_landing(spark, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    assert len(written) == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= len(written) + 2
    assert calls == {"register_table": 1, "log_operation": 1}

    ops = (
        spark.table("info.operations")
        .filter(F.col("target").isin("pasada_zone", *written))
        .select("op", "target", "detail", F.col("ts").isNotNull().alias("has_ts"))
        .collect()
    )
    assert sorted(tuple(r) for r in ops) == sorted(
        [("create_database", "pasada_zone", "", True)] * len(written)
        + [("ingest", fqn, "mode=overwrite", True) for fqn in written]
    )
    files = spark.table("info.files").filter(F.col("table_name").isin(*written)).collect()
    assert sorted(r["table_name"] for r in files) == sorted(written)
    assert all(r["creation"] is not None for r in files)


def test_catalog_concurrent_saves_claim_and_stage_every_table(spark):
    """Stress the catalog's shared state: more threads than cores, each
    saving its own table and racing for one shared table, with a short
    switch interval. Exactly one thread may win the shared table, and no
    staged row or row count may be lost."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    threads = 2 * spark.sparkContext.defaultParallelism + 1

    def save(i, cat):
        cat.save_ingested(spark.range(i + 1), "stress_zone", f"t{i}")
        try:
            cat.save_ingested(spark.range(1), "stress_zone", "shared")
            return True
        except ValueError:
            return False

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with InfoCatalog(spark) as cat, ThreadPoolExecutor(threads) as pool:
            futures = [pool.submit(save, i, cat) for i in range(threads)]
            won = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert sum(won) == 1
    expected = {f"stress_zone.t{i}": i + 1 for i in range(threads)}
    expected["stress_zone.shared"] = 1
    assert cat.rows_written == expected
    files = spark.table("info.files").filter(F.col("table_name").startswith("stress_zone."))
    assert sorted(r["table_name"] for r in files.collect()) == sorted(expected)


def _write_minimal_xlsx(path, sheets):
    """Hand-rolled SpreadsheetML writer (tests only): sheets is
    {name: (header, rows)}; strings go inline, ints/floats as numbers."""
    import zipfile

    def cell_xml(ref, v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    def col_letter(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(ord("A") + r) + s
        return s

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rid_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    with zipfile.ZipFile(path, "w") as zf:
        sheet_tags, rel_tags = [], []
        for i, name in enumerate(sheets, 1):
            sheet_tags.append(f'<sheet name="{name}" sheetId="{i}" r:id="rId{i}"/>')
            rel_tags.append(
                f'<Relationship Id="rId{i}" Target="worksheets/sheet{i}.xml" '
                'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"/>'
            )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook {ns} {rid_ns}><sheets>{"".join(sheet_tags)}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(rel_tags)
            + "</Relationships>",
        )
        for i, (name, (header, rows)) in enumerate(sheets.items(), 1):
            all_rows = [header] + rows
            body = "".join(
                "<row r=\"%d\">%s</row>"
                % (ri + 1, "".join(cell_xml(f"{col_letter(ci)}{ri + 1}", v) for ci, v in enumerate(row)))
                for ri, row in enumerate(all_rows)
            )
            zf.writestr(
                f"xl/worksheets/sheet{i}.xml",
                f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>",
            )


def test_native_xlsx_parse_and_ingest(spark, tmp_path):
    """Full Excel entry point: stdlib parse → stringify → infer → managed
    tables (the reference's Insert_excel_tables shape), the bucket walk
    being the landing zone's."""
    from datalake_local_spark.sources import landing

    bucket = tmp_path / "granja uno"
    bucket.mkdir()
    fpath = bucket / "ventas 2024.xlsx"
    _write_minimal_xlsx(
        fpath,
        {
            "resumen": (
                ["animales", "precio", "fecha", "nota"],
                [[5, 12.5, "2024-01-02", "ok"], [7, 9.25, "2024-01-03", None]],
            ),
            "vacia": (["a"], []),
        },
    )
    parsed = xlsx_native.parse_xlsx(fpath.read_bytes())
    assert parsed["resumen"][0] == ["animales", "precio", "fecha", "nota"]
    assert parsed["resumen"][1][0] == ["5", "12.5", "2024-01-02", "ok"]

    df = excel.read_sheet(spark, str(fpath), "resumen")
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    assert types == {"animales": "long", "precio": "string", "fecha": "date", "nota": "string"}
    assert df.count() == 2

    written = landing.ingest_landing(spark, str(tmp_path))
    assert written == {"granja_uno.ventas_2024_resumen": 2}  # empty sheet skipped
    assert spark.table("granja_uno.ventas_2024_resumen").count() == 2
    assert not spark.catalog.tableExists("granja_uno.ventas_2024_vacia")


def test_ingest_excel_file_parses_workbook_once(spark, tmp_path, monkeypatch):
    """A k-sheet workbook is opened once and parsed once, not once per
    sheet plus once for the sheet list."""
    import builtins

    fpath = tmp_path / "dos_hojas.xlsx"
    _write_minimal_xlsx(fpath, {"a": (["k"], [[1], [2]]), "b": (["v"], [["x"]])})
    parses, opens = [], []
    real_parse, real_open = xlsx_native.parse_xlsx, builtins.open

    def counting_parse(data):
        parses.append(len(data))
        return real_parse(data)

    def counting_open(file, *args, **kwargs):
        if isinstance(file, (str, os.PathLike)) and os.fspath(file) == str(fpath):
            opens.append(file)
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(xlsx_native, "parse_xlsx", counting_parse)
    monkeypatch.setattr(builtins, "open", counting_open)
    with InfoCatalog(spark) as cat:
        excel.ingest_excel_file(spark, str(fpath), "testdb_once", cat)
    monkeypatch.undo()
    assert len(parses) == 1
    assert len(opens) == 1
    assert spark.table("testdb_once.dos_hojas_a").count() == 2
    assert spark.table("testdb_once.dos_hojas_b").count() == 1


def test_excel_mixed_type_column_degrades_to_string(spark, tmp_path):
    """A column whose first cell parses as int but later cells don't must
    fall back to varchar instead of aborting the ingest (compat
    best-effort semantics)."""
    fpath = tmp_path / "m.xlsx"
    _write_minimal_xlsx(fpath, {"s": (["k", "v"], [[1, 123], [2, "abc"]])})
    df = excel.read_sheet(spark, str(fpath), "s")
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    assert types == {"k": "long", "v": "string"}
    assert [r["v"] for r in df.orderBy("k").collect()] == ["123", "abc"]


def test_read_sheet_arrow_types_and_nulls(spark, tmp_path):
    """The Arrow-built sheet frame: long, date (one before 1970),
    timestamp, a mixed column and an out-of-range integer column degraded
    to string, and an all-null column typed string; NULLs kept."""
    import datetime as dt

    from pyspark.sql import types as T

    fpath = tmp_path / "typed.xlsx"
    _write_minimal_xlsx(
        fpath,
        {
            "s": (
                ["n", "d", "ts", "mixed", "big", "empty"],
                [
                    [5, "1969-07-20", "2024-01-02 10:00:00", 1, 1, None],
                    [-3, "2024-02-29", "1965-03-04 05:06:07.25", "abc", "99999999999999999999", None],
                    [None, None, None, 3, None, None],
                ],
            )
        },
    )
    df = excel.read_sheet(spark, str(fpath), "s")
    assert df.schema == T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("mixed", T.StringType()),
            T.StructField("big", T.StringType()),
            T.StructField("empty", T.StringType()),
        ]
    )
    # timestamps compared as session-zone wall clock, the value the cell held
    rows = df.withColumn("ts", F.col("ts").cast("string")).collect()
    assert [tuple(r) for r in rows] == [
        (5, dt.date(1969, 7, 20), "2024-01-02 10:00:00", "1", "1", None),
        (-3, dt.date(2024, 2, 29), "1965-03-04 05:06:07.25", "abc", "99999999999999999999", None),
        (None, None, None, "3", None, None),
    ]


def test_xlsx_distributed_long_form(spark, tmp_path):
    """Executor-side long form over a directory tree: two workbooks, one
    in a nested directory, three sheets, one row per cell, row_idx long."""
    from pyspark.sql import types as T

    root = tmp_path / "long_zone"
    (root / "sub").mkdir(parents=True)
    _write_minimal_xlsx(
        root / "book1.xlsx",
        {"s1": (["a", "b"], [[1, "x"], [2, "y"]]), "s2": (["c"], [[3]])},
    )
    _write_minimal_xlsx(root / "sub" / "book2.xlsx", {"only": (["d"], [[4], [5]])})
    out = xlsx_native.read_xlsx_distributed(spark, str(root))
    assert out.schema["row_idx"].dataType == T.LongType()
    collected = out.collect()
    rows = {(r["sheet"], r["row_idx"], r["column"]): r["value"] for r in collected}
    assert len(collected) == len(rows) == 4 + 1 + 2  # book1.s1 4 cells, s2 1, book2 2
    assert rows[("s1", 0, "a")] == "1" and rows[("s1", 1, "b")] == "y"
    assert rows[("s2", 0, "c")] == "3"
    assert rows[("only", 0, "d")] == "4" and rows[("only", 1, "d")] == "5"
    assert {os.path.basename(r["path"]) for r in collected if r["sheet"] == "only"} == {
        "book2.xlsx"
    }


def test_xlsx_distributed_keeps_ragged_trailing_cells(spark, tmp_path):
    """Rows wider than the header must keep trailing cells (generated
    col_N names) in the long form — parse_xlsx's width contract."""
    fpath = tmp_path / "ragged.xlsx"
    _write_minimal_xlsx(
        fpath, {"s1": (["a", "b"], [[1, "x", "overflow", 9], [2, "y"]])}
    )
    out = xlsx_native.read_xlsx_distributed(spark, str(tmp_path))
    rows = {(r["row_idx"], r["column"]): r["value"] for r in out.collect()}
    assert rows[(0, "col_2")] == "overflow" and rows[(0, "col_3")] == "9"
    assert (1, "col_2") not in rows


def test_json_quarantine_splits_bad_lines(spark, tmp_path):
    src = tmp_path / "data.jsonl"
    src.write_text(
        '{"id": 1, "v": "ok"}\n'
        'this is not json\n'
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "NOT_A_NUMBER_&_unclosed\n'
    )
    clean, quarantine = json_source.ingest_json_with_quarantine(
        spark, str(src), "id long, v string"
    )
    assert {(r["id"], r["v"]) for r in clean.collect()} == {(1, "ok"), (2, "also ok")}
    bad = [r["raw_line"] for r in quarantine.collect()]
    assert len(bad) == 2 and any("not json" in b for b in bad)


def test_sql_shell_executes_statements(spark, tables):
    """The SQL endpoint façade: two statements driven through the REPL
    programmatically (the reference's interactive-JDBC role)."""
    import io
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import sql_shell

    tables["orders"].createOrReplaceTempView("orders_shell")
    script = io.StringIO(
        "SELECT count(*) AS n FROM orders_shell;\n"
        "SELECT o_orderpriority, count(*) AS n FROM orders_shell\n"
        "GROUP BY 1 ORDER BY 1 LIMIT 2;\n"
        "\\q\n"
    )
    out = io.StringIO()
    sql_shell.repl(spark, instream=script, outstream=out)
    text = out.getvalue()
    expected_n = tables["orders"].count()
    assert f"{expected_n}" in text and "(1 row)" in text
    assert "o_orderpriority" in text and "(2 rows)" in text

    cols, rows = sql_shell.run_statement(spark, "SELECT 1 AS one, NULL AS nothing")
    assert cols == ["one", "nothing"] and rows == [(1, None)]
    rendered = sql_shell.format_table(cols, rows)
    assert "NULL" in rendered


def test_landing_to_query_oracle_parity(spark, tmp_path):
    """End-to-end seam (r4 verdict #3): a multi-format landing drop
    (jsonl + xlsx + sale-line csv) ingested via ``ingest_landing`` from a
    file:// URI root, then §2 queries (aggregate, join, window) run over
    the INGESTED managed tables and checked against DuckDB on the same
    generated data. The pieces are unit-tested individually; this pins
    the composition — discovery naming, sanitization, type inference and
    provenance writes all sit between the drop and the query."""
    import duckdb
    import pandas as pd

    from datalake_local_spark.sources import landing

    statuses = ["open", "shipped", "returned"]
    orders = [
        {"order_id": i, "cust_id": i % 12, "amount": (i * 37) % 500 + 1, "status": statuses[i % 3]}
        for i in range(60)
    ]
    segments = ["retail", "corp", "gov"]
    customers = [(c, segments[c % 3]) for c in range(12)]

    root = tmp_path / "landing_e2e"
    (root / "e2e_sales").mkdir(parents=True)
    (root / "e2e_farm").mkdir()
    (root / "configuration").mkdir()
    (root / "e2e_sales" / "orders.jsonl").write_text(
        "\n".join(
            f'{{"order_id": {o["order_id"]}, "cust_id": {o["cust_id"]}, '
            f'"amount": {o["amount"]}, "status": "{o["status"]}"}}'
            for o in orders
        )
        + "\n"
    )
    _write_minimal_xlsx(
        root / "e2e_sales" / "customers.xlsx",
        {"clientes": (["cust_id", "segment"], [list(c) for c in customers])},
    )
    (root / "e2e_farm" / "ventas.csv").write_text(
        "1/2/2024 Venta Animales: 5 Documento salida: 10\n"
        "3/4/2024 Venta Animales: 7 Documento salida: 11\n"
        "RECRIASIN\n"
        "5/6/2024 Venta Animales: 9 Documento salida: 12\n"
    )
    (root / "configuration" / "skip.csv").write_text("x\n")

    written = landing.ingest_landing(spark, f"file://{root}")
    assert written["e2e_sales.orders"] == 60
    assert written["e2e_sales.customers_clientes"] == 12
    assert written["e2e_farm.ventas"] == 2  # sentinel early-stop (P5)
    assert spark.sql("SELECT SUM(n_animales) AS s FROM e2e_farm.ventas").first()["s"] == 12

    con = duckdb.connect()
    con.register("orders", pd.DataFrame(orders))
    con.register("customers", pd.DataFrame(customers, columns=["cust_id", "segment"]))

    cases = {
        # A-family aggregate over an ingested table
        "agg": (
            "SELECT status, COUNT(*) AS n_orders, SUM(amount) AS revenue "
            "FROM {o} GROUP BY status ORDER BY status",
        ),
        # J-family join: jsonl-ingested fact × xlsx-ingested dim
        "join": (
            "SELECT c.segment, COUNT(*) AS n, SUM(o.amount) AS revenue "
            "FROM {o} o JOIN {c} c ON o.cust_id = c.cust_id "
            "GROUP BY c.segment ORDER BY c.segment",
        ),
        # §2.5 ranking window over the join
        "window": (
            "SELECT * FROM (SELECT c.segment, o.order_id, o.amount, "
            "ROW_NUMBER() OVER (PARTITION BY c.segment ORDER BY o.amount DESC, o.order_id) AS rn "
            "FROM {o} o JOIN {c} c ON o.cust_id = c.cust_id) WHERE rn <= 2 "
            "ORDER BY segment, rn",
        ),
    }
    for name, (sql,) in cases.items():
        got = [
            tuple(r)
            for r in spark.sql(
                sql.format(o="e2e_sales.orders", c="e2e_sales.customers_clientes")
            ).collect()
        ]
        want = [
            tuple(r) for r in con.execute(sql.format(o="orders", c="customers")).fetchall()
        ]
        assert got == want, f"{name}: spark={got} oracle={want}"

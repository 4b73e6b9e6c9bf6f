"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:

- :func:`write_tables` — the ten registry tables (TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``) as one parquet file
  each, with the column names, types and value ranges of the testdata the
  registry queries and their DuckDB oracles were written against;
- :func:`write_landing_zone` — a landing zone of CSV sale lines, JSONL
  orders and an XLSX workbook, plus a ``configuration`` bucket that
  ingestion must skip.

The same seed gives byte-identical files; row counts depend only on the
scale factor, so every seed does the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TPC-H ratios; the text
    and vector tables have a floor so small scales still dedup)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span + 1, n) * np.timedelta64(_DAY_US, "us")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary (10-100 tokens), ~5% near
    duplicates (an earlier text plus `` dup``) and ~0.2% exact copies."""
    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _region(rng, size, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})


def _nation(rng, size, sf):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, size, sf):
    n = size["customer"]
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def _supplier(rng, size, sf):
    n = size["supplier"]
    return pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, size, sf):
    n = size["part"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )


def _orders(rng, size, sf):
    n = size["orders"]
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, size["customer"], n),
            "o_orderstatus": rng.choice(("F", "O", "P"), n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def _lineitem(rng, size, sf):
    n = size["lineitem"]
    return pa.table(
        {
            "l_orderkey": rng.integers(0, size["orders"], n),
            "l_partkey": rng.integers(0, size["part"], n),
            "l_suppkey": rng.integers(0, size["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n),
            "l_linestatus": rng.choice(("F", "O"), n),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(_DAY_US, "us"), 2498, n),
        }
    )


def _events(rng, size, sf):
    n = size["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _EPOCH_2024 + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, round(15_000 * sf)), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _embeddings(rng, size, sf):
    n = size["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng, size, sf: _documents(rng, size["documents"]),
    "embeddings": _embeddings,
}


TABLES = tuple(_BUILDERS)


def make_tables(sf: float, seed: int, names=None) -> dict[str, pa.Table]:
    """The registry tables at scale ``sf`` (all ten, or ``names``), drawn
    from ``seed``. Each table has its own random stream, so a subset is
    the same as the matching tables of the full set."""
    size = table_sizes(sf)
    return {
        name: build(np.random.default_rng([seed, i]), size, sf)
        for i, (name, build) in enumerate(_BUILDERS.items())
        if names is None or name in names
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, pa.Table]:
    """Write ``<name>.parquet`` for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(sf, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# ------------------------------------------------------------ landing zone


def _sale_line(day: dt.date, qty: int, doc: int, flag: str, status: str) -> str:
    return (
        f"{day.day}/{day.month}/{day.year} Venta Animales: {qty} "
        f"Documento salida: {doc} lote {flag}{status}"
    )


def _write_xlsx(path: str, sheets: dict[str, tuple[list, list[list]]]) -> None:
    """Minimal SpreadsheetML workbook (inline strings, numeric cells)."""

    def col(i: int) -> str:
        s, i = "", i + 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    rel_type = "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:

        def put(name: str, data: str) -> None:
            # a fixed entry time: ``writestr(name, ...)`` stamps the current
            # time, so the same seed would not give the same bytes
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data, zipfile.ZIP_DEFLATED)

        tags = "".join(
            f'<sheet name="{name}" sheetId="{i}" r:id="rId{i}"/>'
            for i, name in enumerate(sheets, 1)
        )
        put("xl/workbook.xml", f"<workbook {ns} {rns}><sheets>{tags}</sheets></workbook>")
        rels = "".join(
            f'<Relationship Id="rId{i}" Target="worksheets/sheet{i}.xml" Type="{rel_type}"/>'
            for i in range(1, len(sheets) + 1)
        )
        put(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f"{rels}</Relationships>",
        )
        for i, (header, rows) in enumerate(sheets.values(), 1):
            body = "".join(
                f'<row r="{ri}">'
                + "".join(cell(f"{col(ci)}{ri}", v) for ci, v in enumerate(row))
                + "</row>"
                for ri, row in enumerate([header, *rows], 1)
            )
            put(
                f"xl/worksheets/sheet{i}.xml",
                f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>",
            )


def write_landing_zone(root: str, tables: dict[str, pa.Table], seed: int) -> dict:
    """Write a landing zone built from ``tables`` under ``root``.

    - ``ventas/granja_0.csv``: lineitem rows as sale lines
      ``d/m/yyyy Venta Animales: <qty> Documento salida: <orderkey> ...``,
      with noise lines and, after the last sale line, a ``RECRIASIN``
      sentinel followed by a line ingestion must drop;
    - ``pedidos/orders_0.jsonl``: orders rows;
    - ``catalogo/maestro.xlsx``: ``part`` and ``supplier`` sheets;
    - ``configuration/``: a replay log ingestion must skip.

    Returns the manifest the output checks use: the expected row count of
    every table, keyed ``<db>.<table>``, and the ingested rows themselves
    (as column lists) for the DuckDB read-back oracle.
    """
    rng = np.random.default_rng([seed, 0x1A4D])
    li = tables["lineitem"].to_pydict()
    farm = "granja_0"
    lines = [f"Informe de ventas {farm}", "Fecha;Concepto;Detalle"]
    for day, qty, doc, flag, status in zip(
        li["l_shipdate"], li["l_quantity"], li["l_orderkey"], li["l_returnflag"], li["l_linestatus"]
    ):
        lines.append(_sale_line(day.date(), int(qty), doc, flag, status))
        if rng.random() < 0.02:
            lines.append(f"Observacion: revisar lote {int(rng.integers(0, 10**6))}")
    lines.append("RECRIASIN cierre de seccion")
    lines.append(_sale_line(dt.date(2001, 1, 1), 1, 0, "X", "X"))
    os.makedirs(os.path.join(root, "ventas"), exist_ok=True)
    with open(os.path.join(root, "ventas", f"{farm}.csv"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    n_sales = len(li["l_orderkey"])
    sales = {
        "name_farm": [farm] * n_sales,
        "n_animales": [int(q) for q in li["l_quantity"]],
        "documento_salida": li["l_orderkey"],
    }

    orders = tables["orders"].to_pydict()
    os.makedirs(os.path.join(root, "pedidos"), exist_ok=True)
    with open(os.path.join(root, "pedidos", "orders_0.jsonl"), "w") as fh:
        for i, day in enumerate(orders["o_orderdate"]):
            row = {k: orders[k][i] for k in orders}
            row["o_orderdate"] = day.date().isoformat()
            fh.write(json.dumps(row) + "\n")

    part = tables["part"].to_pylist()
    supp = tables["supplier"].to_pylist()
    os.makedirs(os.path.join(root, "catalogo"), exist_ok=True)
    _write_xlsx(
        os.path.join(root, "catalogo", "maestro.xlsx"),
        {
            "part": (list(part[0]), [list(r.values()) for r in part]),
            "supplier": (list(supp[0]), [list(r.values()) for r in supp]),
        },
    )

    os.makedirs(os.path.join(root, "configuration"), exist_ok=True)
    with open(os.path.join(root, "configuration", "replay.csv"), "w") as fh:
        fh.write("1/1/2001 Venta Animales: 1 Documento salida: 1 no ingerir\n")
    return {
        "counts": {
            f"ventas.{farm}": n_sales,
            "pedidos.orders_0": len(orders["o_orderkey"]),
            "catalogo.maestro_part": len(part),
            "catalogo.maestro_supplier": len(supp),
        },
        "sales": sales,
        "orders": {
            k: orders[k] for k in ("o_orderkey", "o_orderpriority", "o_totalprice")
        },
    }


def landing_bytes(root: str) -> int:
    """Bytes of every file ingestion reads (``configuration`` excluded)."""
    total = 0
    for bucket in os.listdir(root):
        if bucket == "configuration":
            continue
        for dirpath, _dirs, files in os.walk(os.path.join(root, bucket)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total

"""Python streaming Data Source (Spark 4 API) over a landing-zone jsonl
file: ``spark.readStream.format("jsonl_replay").load(file)`` replays the
file's lines as deterministic micro-batches, so a stream over the landing
zone gets exactly-once delivery from offsets that are line numbers.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


class JsonlReplayStreamReader(SimpleDataSourceStreamReader):
    """SimpleDataSourceStreamReader over one jsonl file: offsets are line
    numbers, each micro-batch emits up to ``rows_per_batch`` lines, and
    ``readBetweenOffsets`` replays any committed range byte-exactly —
    the exactly-once replay contract the reference approximates with
    cron + dedup. Driver-side (Simple API) by design: the feed is a
    landing-zone tail, catalog-sized; bulk bytes belong to the file
    sources."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_replay requires .load(path)")
        self.rows_per_batch = int(options.get("rowsperbatch", "100"))

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _lines(self):
        with open(self.path, "r", encoding="utf-8") as f:
            return f.read().splitlines()

    def read(self, start: dict):
        lines = self._lines()
        lo = start["line"]
        hi = min(len(lines), lo + self.rows_per_batch)
        rows = iter([(i, lines[i]) for i in range(lo, hi)])
        return rows, {"line": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        lines = self._lines()
        return iter([(i, lines[i]) for i in range(start["line"], end["line"])])

    def commit(self, end: dict) -> None:
        pass


class JsonlReplayDataSource(DataSource):
    """``spark.readStream.format("jsonl_replay").option("rowsPerBatch", 50)
    .load(file)`` — a Python streaming data source (Spark 4 API) whose
    micro-batches are deterministic line ranges."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_replay"

    def schema(self) -> str:
        return "line_no long, raw string"

    def simpleStreamReader(self, schema) -> JsonlReplayStreamReader:
        return JsonlReplayStreamReader(self.options)


def register_streaming(spark) -> None:
    """Idempotent registration of the jsonl_replay streaming source."""
    spark.dataSource.register(JsonlReplayDataSource)

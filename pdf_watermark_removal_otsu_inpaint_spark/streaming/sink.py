"""Exactly-once idempotent sink (X7) + per-file lineage/metrics (X8).

`foreachBatch` is at-least-once on retry; exactly-once is recovered by making
each micro-batch commit idempotent (SURVEY §4.3). Per micro-batch N:

1. write: the batch plan runs once, in a plain overwrite of
   `<out>/data/batch_id=N/` (a retried batch N rewrites the same directory
   instead of duplicating); there is no shuffle before the write, and this
   is the only Spark job of a batch with no repeated key;
2. key check: the driver reads the key columns (doc_id, seq_no) and the
   metric columns (coverage, n_tok) of each WRITTEN file with pyarrow —
   about 30 bytes a row, never the token arrays — and asks whether any
   sink key repeats within the batch (NULL keys group together, as in
   Spark's dropDuplicates);
3. only if one does: the written rows are deduplicated by Spark into
   `<out>/_staging/batch_id=N/`, swapped into the data directory and read
   back the same way;
4. lineage: one row per written data file (batch_id, partition_id, rows_out,
   masked tokens, coverage sum) is derived on the driver from those columns
   — the resume audit trail (reference ProcessingStats, stats.py:13-245,
   made transactional). `partition_id` is the part number in the file's
   name, i.e. the write task that produced it; a file with no rows gets no
   row;
5. metrics: the driver writes those rows with pyarrow as the single file
   `<out>/metrics/batch_id=N/part-00000.parquet` (no Spark job);
6. commit: a marker `<out>/_commits/N.json` is written atomically
   (tmp+rename) after everything above; a replayed batch whose marker
   exists is a no-op.

Readers (`read_committed`, `read_metrics`) only see batches with markers, so
a crash at any step before 6 leaves no visible partial output, and the
replay rewrites every file of the batch. Like `os.replace` and the markers,
steps 2 and 4 need `out_dir` to be visible to the driver.

The production target is an Iceberg/Delta MERGE on (doc_id, seq_no) — those
jars are not in this image (import-gated), but the commit-marker protocol
provides the same replay-idempotence guarantee on plain parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _round_half_up(x: float, places: int) -> Decimal:
    """Spark's round(): HALF_UP on the double's decimal form."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places),
                                     ROUND_HALF_UP)


def _read_written(data_path: str,
                  cols: list[str]) -> list[tuple[int, pa.Table]]:
    """(part number, `cols` of the file) for each data file of a batch."""
    return [(int(name.split("-")[1]),
             pq.read_table(os.path.join(data_path, name), columns=cols))
            for name in sorted(os.listdir(data_path))
            if name.startswith("part-") and name.endswith(".parquet")]


def _lineage(files: list[tuple[int, pa.Table]], batch_id: int,
             metric_cols: list[str]) -> pa.Table:
    """One metrics row per non-empty data file: its row count,
    round(sum(coverage), 9) and round(sum(coverage * n_tok)), each rounded
    HALF_UP as Spark's round() does."""
    has_cov = "coverage" in metric_cols
    has_masked = has_cov and "n_tok" in metric_cols
    fields = [pa.field("partition_id", pa.int32(), False),
              pa.field("rows_out", pa.int64(), False)]
    if has_cov:
        fields.append(pa.field("coverage_sum", pa.float64()))
    if has_masked:
        fields.append(pa.field("masked_tokens", pa.int64()))
    fields.append(pa.field("batch_id", pa.int32(), False))
    rows = []
    for part, t in files:
        if not t.num_rows:
            continue
        row = {"partition_id": part, "rows_out": t.num_rows,
               "batch_id": batch_id}
        if has_cov:
            cov = pc.sum(t["coverage"]).as_py()
            row["coverage_sum"] = (None if cov is None
                                   else float(_round_half_up(cov, 9)))
        if has_masked:
            masked = pc.sum(pc.multiply(
                t["coverage"], t["n_tok"].cast(pa.float64()))).as_py()
            row["masked_tokens"] = (None if masked is None
                                    else int(_round_half_up(masked, 0)))
        rows.append(row)
    return pa.Table.from_pylist(rows, schema=pa.schema(fields))


class ExactlyOnceParquetSink:
    def __init__(self, out_dir: str, key_cols: tuple[str, ...] = ("doc_id", "seq_no")):
        self.out_dir = out_dir
        self.key_cols = list(key_cols)
        os.makedirs(f"{out_dir}/_commits", exist_ok=True)

    def _commit_path(self, batch_id: int) -> str:
        return f"{self.out_dir}/_commits/{batch_id}.json"

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_path(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Replays are no-ops; partial failures rewrite."""
        if self.is_committed(batch_id):
            return
        data_path = f"{self.out_dir}/data/batch_id={batch_id}"
        metrics_path = f"{self.out_dir}/metrics/batch_id={batch_id}"

        batch_df.write.mode("overwrite").parquet(data_path)
        metric_cols = [c for c in ("coverage", "n_tok")
                       if c in batch_df.columns]
        files = _read_written(data_path, self.key_cols + metric_cols)
        keys = pa.concat_tables([t.select(self.key_cols) for _, t in files])
        if keys.group_by(self.key_cols).aggregate([]).num_rows < keys.num_rows:
            # a source row replayed within the batch must not double-write.
            # The explicit schema skips a schema-inference job.
            staging = f"{self.out_dir}/_staging/batch_id={batch_id}"
            (batch_df.sparkSession.read.schema(batch_df.schema)
             .parquet(data_path).dropDuplicates(self.key_cols)
             .write.mode("overwrite").parquet(staging))
            shutil.rmtree(data_path)
            os.replace(staging, data_path)
            shutil.rmtree(f"{self.out_dir}/_staging")
            files = _read_written(data_path, self.key_cols + metric_cols)

        lineage = _lineage(files, batch_id, metric_cols)
        # at most a few rows: written on the driver, which already writes
        # the marker into out_dir
        shutil.rmtree(metrics_path, ignore_errors=True)
        os.makedirs(metrics_path)
        pq.write_table(lineage, f"{metrics_path}/part-00000.parquet")

        # atomic commit marker: tmp file + rename (rename is atomic on POSIX)
        fd, tmp = tempfile.mkstemp(dir=f"{self.out_dir}/_commits",
                                   suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"batch_id": batch_id,
                       "rows": sum(t.num_rows for _, t in files)}, f)
        os.replace(tmp, self._commit_path(batch_id))

    def committed_batches(self) -> list[int]:
        d = f"{self.out_dir}/_commits"
        return sorted(int(f[:-5]) for f in os.listdir(d) if f.endswith(".json"))

    def committed_rows(self) -> int:
        """Rows the commit markers name: the sink's exactly-once count."""
        total = 0
        for b in self.committed_batches():
            with open(self._commit_path(b)) as f:
                total += int(json.load(f)["rows"])
        return total

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Only committed batch dirs are visible (exactly-once read view)."""
        paths = [f"{self.out_dir}/data/batch_id={b}"
                 for b in self.committed_batches()]
        if not paths:
            raise ValueError("no committed batches")
        return spark.read.option("basePath", f"{self.out_dir}/data") \
            .parquet(*paths)

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        paths = [f"{self.out_dir}/metrics/batch_id={b}"
                 for b in self.committed_batches()]
        if not paths:
            raise ValueError("no committed batches")
        return spark.read.option("basePath", f"{self.out_dir}/metrics") \
            .parquet(*paths)


class IcebergMergeSink:
    """Exactly-once sink on an Iceberg catalog: per-batch MERGE on the sink
    key + a committed-batch ledger table (the production path the parquet
    commit-marker sink emulates; reference sink analogue
    pdf_processor.py:130-155).

    Protocol per micro-batch N:
    1. ledger lookup: if N is in `<table>_commits`, the batch already
       committed fully — no-op (foreachBatch replay).
    2. MERGE INTO <table> ON the sink key — UPDATE on match, INSERT
       otherwise. MERGE is snapshot-atomic in Iceberg and idempotent under
       replay (a matched row updates to identical values), so a crash
       between MERGE and the ledger write re-runs safely.
    3. append (batch_id, rows) to the ledger — the commit point.

    Requires an Iceberg catalog (sources.tables.iceberg_available); the
    factory `make_sink` picks this class only when one exists.
    """

    def __init__(self, table: str,
                 key_cols: tuple[str, ...] = ("doc_id", "seq_no")):
        self.table = table
        self.key_cols = list(key_cols)
        self.ledger = f"{table}_commits"

    def merge_sql(self, updates_view: str = "_updates") -> str:
        on = " AND ".join(f"t.{c} = u.{c}" for c in self.key_cols)
        return (f"MERGE INTO {self.table} t USING {updates_view} u ON {on} "
                f"WHEN MATCHED THEN UPDATE SET * "
                f"WHEN NOT MATCHED THEN INSERT *")

    def _ensure_tables(self, spark: SparkSession, batch_df: DataFrame) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in batch_df.schema.fields)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {self.table} ({ddl}) "
                  f"USING iceberg")
        spark.sql(f"CREATE TABLE IF NOT EXISTS {self.ledger} "
                  f"(batch_id BIGINT, rows BIGINT) USING iceberg")

    def is_committed(self, spark: SparkSession, batch_id: int) -> bool:
        try:
            return (spark.table(self.ledger)
                    .where(F.col("batch_id") == batch_id).limit(1)
                    .count() > 0)
        except Exception:
            return False  # ledger not created yet -> nothing committed

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if self.is_committed(spark, batch_id):
            return
        self._ensure_tables(spark, batch_df)
        deduped = batch_df.dropDuplicates(self.key_cols).cache()
        try:
            view = f"_updates_b{batch_id}"
            deduped.createOrReplaceTempView(view)
            spark.sql(self.merge_sql(view))
            n = deduped.count()  # rows upserted by this batch (same
            # semantics as the parquet sink's commit-marker row count)
        finally:
            deduped.unpersist()
        spark.sql(f"INSERT INTO {self.ledger} VALUES "
                  f"({int(batch_id)}, {int(n)})")


def make_sink(out: str, spark: SparkSession,
              key_cols: tuple[str, ...] = ("doc_id", "seq_no")):
    """Pick the sink for a destination: Iceberg MERGE when `out` names a
    catalog table and a catalog exists, commit-marker parquet otherwise —
    same exactly-once contract either way."""
    from ..sources.tables import iceberg_available
    if "/" not in out and iceberg_available(spark):
        return IcebergMergeSink(out, key_cols)
    return ExactlyOnceParquetSink(out, key_cols)

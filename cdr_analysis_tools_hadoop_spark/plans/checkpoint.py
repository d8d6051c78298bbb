"""Per-partition checkpoint manifest: resumable partitioned writes
with lineage + throughput metrics.

North-rule requirement (BASELINE.json): "resumable from checkpoint
with per-partition lineage + metrics" — a killed job must resume
without recomputing completed partitions. The reference's analogue is
manual day-partition incrementality via INSERT OVERWRITE on `pdt`
(reference queries/cdr_and_mapping/insert_consolidate_cdr.sql:1-3 +
Common/hive_create_tables.py:261-289, rerun per day by the operator).

Design (Iceberg-commit-style, file-based):

- The manifest is a JSON-lines file next to the output
  (``<path>/_manifest.jsonl``); one record per committed partition:
  partition value, row count, wall seconds, rows/sec, input lineage
  fingerprint, Spark application id.
- ``write_partitioned`` filters out the committed partitions and writes
  the rest — as one dynamic-overwrite job over one run of the input
  plan (not a job per partition, and no separate pass to list the
  input's partitions), so a resume of a 5000-partition run with 4990
  committed does one scan filtered to 10 partitions. Partition pruning
  pushes the NOT-IN filter to the reader when the input is already
  partitioned on the key.
- Dynamic partition overwrite (spark.sql.sources.partitionOverwriteMode
  = dynamic, set in session.py) makes the per-partition write atomic
  at the directory level: a partition directory is replaced only when
  its task set commits, so a kill mid-job leaves committed partitions
  intact and the manifest is appended only after the write action
  returns.
- Lineage: the fingerprint is a hash of the input's file listing
  (``df.inputFiles()``) and of each local file's size and mtime; a
  resume against CHANGED inputs (renamed, added, dropped or rewritten
  in place) is refused unless ``allow_lineage_change=True`` — silently
  mixing old and new source data is the failure mode this catches.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import warnings
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.jsonl"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def read_manifest(path: str) -> list[dict]:
    """Committed records, in append order. Every append ends its lines
    with a newline, so text after the last newline is a torn append (a
    kill inside append_manifest): it is skipped with a warning, and a
    resume redoes its partitions. An unparsable complete line is
    corruption and raises."""
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return []
    with open(mp) as f:
        body, _, torn = f.read().rpartition("\n")
    if torn.strip():
        warnings.warn(f"{mp}: skipping a torn final line ({len(torn)} chars)")
    records = []
    for i, line in enumerate(body.split("\n")):
        if not line.strip():
            continue
        try:
            records.append(json.loads(line))
        except json.JSONDecodeError:
            raise ValueError(f"{mp}: corrupt manifest line {i + 1}") from None
    return records


def committed_partitions(path: str) -> set[str]:
    return {m["partition"] for m in read_manifest(path) if m.get("status") == "committed"}


def lineage_fingerprint(df: DataFrame) -> str:
    return files_fingerprint(sorted(df.inputFiles()))


def _local_path(fpath: str) -> str | None:
    """The filesystem path of a local path or ``file:`` URI (the forms
    ``inputFiles()`` returns on a local filesystem); None otherwise."""
    if fpath.startswith("file:"):
        return unquote(urlparse(fpath).path)
    if "://" in fpath:
        return None
    return fpath


def files_fingerprint(files: list[str]) -> str:
    """Hash of a file list and, for local files, each file's size and
    mtime, so an input rewritten in place under the same name changes
    the fingerprint as well as a renamed one."""
    # NUL-separated: hashing the bare concatenation would let two
    # DIFFERENT file lists collide whenever characters move across a
    # path boundary (['/a/bc', '/d'] vs ['/a/b', 'c/d']) — defeating
    # the changed-input guard this fingerprint exists for
    h = hashlib.sha256()
    h.update(str(len(files)).encode())
    for fpath in files:
        h.update(b"\0" + fpath.encode())
        local = _local_path(fpath)
        if local is not None:
            st = os.stat(local)
            h.update(f"\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def make_commit_record(
    partition: str,
    rows: int,
    seconds: float,
    lineage: str,
    app_id: str,
    **extra,
) -> dict:
    """The one manifest record shape every committer writes (single
    definition so the resume guards and metrics readers never see
    divergent flavors)."""
    return {
        "partition": partition,
        "status": "committed",
        "rows": int(rows),
        "seconds": round(seconds, 3),
        "rows_per_sec": round(rows / seconds, 1) if seconds > 0 else 0.0,
        "lineage": lineage,
        "app_id": app_id,
        "committed_at": time.time(),
        **extra,
    }


def append_manifest(path: str, records: list[dict]) -> None:
    """Append committed-partition records (one JSON line each). The
    caller appends ONLY after its write action returned — the append
    is the commit point, so a kill mid-write leaves the manifest
    without the row and the rerun redoes that partition. A torn line
    left by an earlier kill is cut off first, so the new records never
    extend it into a corrupt middle line. The append is flushed and
    fsync'ed before it returns."""
    os.makedirs(path, exist_ok=True)
    with open(_manifest_path(path), "ab+") as f:
        f.seek(0)
        data = f.read()
        if data and not data.endswith(b"\n"):
            f.truncate(data.rfind(b"\n") + 1)
        f.write("".join(json.dumps(rec) + "\n" for rec in records).encode())
        f.flush()
        os.fsync(f.fileno())


#: Spark's directory name for a NULL partition value; NULL partitions
#: commit under it, so they are resumable like any other partition
NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _pending(part: Column, done: set[str]) -> Column:
    """Rows whose partition value is not committed in ``done``. A bare
    ``~isin()`` is NULL on a NULL partition value, which would drop those
    rows whether or not they were committed."""
    vals = sorted(done - {NULL_PART})
    cond = ~part.isin(vals) if vals else part.isNotNull()
    return cond if NULL_PART in done else cond | part.isNull()


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    allow_lineage_change: bool = False,
) -> dict:
    """Resumable partitioned parquet write.

    Returns a summary dict: ``written`` (partitions this call
    committed, listed in ``partitions``), ``skipped`` (partitions
    already committed, not rewritten), ``rows`` and ``seconds`` of the
    write. Call again after a failure — committed partitions are
    skipped. The input plan runs once: the rows of every uncommitted
    partition are written in one job, and what that job wrote is read
    back from the committed output.
    """
    lineage = lineage_fingerprint(df)
    manifest = read_manifest(path)
    done = {m["partition"] for m in manifest if m.get("status") == "committed"}
    prior_lineages = {m["lineage"] for m in manifest if "lineage" in m}
    if done and prior_lineages and lineage not in prior_lineages:
        if not allow_lineage_change:
            raise ValueError(
                f"input lineage changed ({lineage} not in {prior_lineages}); "
                "pass allow_lineage_change=True to mix, or clear the manifest"
            )

    subset = df.filter(_pending(F.col(partition_col).cast("string"), done))
    spark = df.sparkSession
    # dynamic overwrite is the whole safety story: under the STATIC
    # default a resume would delete every committed partition (and
    # the manifest) before writing just the todo subset — force it
    # here instead of silently depending on session.py's conf. An
    # empty subset writes no partition directory, so it replaces none.
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior_mode = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        t0 = time.time()
        subset.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        elapsed = time.time() - t0
    finally:
        spark.conf.set(conf_key, prior_mode)

    # written partitions and their row counts from the COMMITTED
    # output, not a second execution of the upstream plan: the written
    # parquet is the tiny (or at worst same-size) result, and partition
    # pruning skips the committed directories. The input's schema reads
    # an empty output too, and gives partition values their written
    # type rather than an inferred one ("007" would read back as 7).
    out_part = F.col(partition_col).cast("string")
    counts = {
        (NULL_PART if r["p"] is None else r["p"]): r["n"]
        for r in spark.read.schema(df.schema)
        .parquet(path)
        .filter(_pending(out_part, done))
        .groupBy(out_part.alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    todo = sorted(counts)
    total_rows = sum(counts.values())
    if todo:
        app_id = spark.sparkContext.applicationId
        append_manifest(
            path,
            [
                make_commit_record(
                    p, counts[p], elapsed * counts[p] / total_rows, lineage, app_id
                )
                for p in todo
            ],
        )
    return {
        "written": len(todo),
        "skipped": len(done),
        "rows": total_rows,
        "seconds": round(elapsed, 3) if todo else 0.0,
        "partitions": todo,
    }


class CheckpointChain:
    """Bounded-storage chained localCheckpoints for iterative
    algorithms (BPE merges, pointer-doubling / alternating-star CC,
    PageRank rounds).

    ``DataFrame.unpersist()`` does NOT release localCheckpoint blocks
    (the persist happens on the internal RDD, invisible to the SQL
    CacheManager — verified empirically), so a loop that re-checkpoints
    per round pins one full copy of its working frame PER ROUND in
    executor storage until the session dies. This helper tracks the
    persistent-RDD ids each checkpoint creates and explicitly
    unpersists the SUPERSEDED round's blocks when the next round
    materializes, bounding storage at ~2 copies.

    ``lag`` is how many SUPERSEDED generations stay alive alongside
    the current one: 0 (default) frees round n-1 the moment round n
    materializes (right when each round only READS the previous frame
    before checkpointing, as in BPE and PageRank); loops that still
    consume the previous checkpoint AFTER the new one materializes
    (dedup_clusters' fixpoint ``exceptAll``) need lag=1 — freeing a
    localCheckpoint's blocks makes the frame UNRECOMPUTABLE (lineage
    is truncated), not merely slow.

    The id-delta tracking assumes rounds run serially on the driver
    (true for every loop in this repo); a concurrent job persisting
    RDDs mid-delta could be over-captured, so keep instances loop-local.
    """

    def __init__(self, spark, lag: int = 0):
        self._jsc_sc = spark.sparkContext._jsc.sc()
        self._lag = int(lag)
        self._gens: list[set[int]] = []

    def _persisted_ids(self) -> set[int]:
        m = self._jsc_sc.getPersistentRDDs()
        it = m.keysIterator()
        out: set[int] = set()
        while it.hasNext():
            out.add(it.next())
        return out

    def _free(self, ids: set[int]) -> None:
        m = self._jsc_sc.getPersistentRDDs()
        for i in ids:
            opt = m.get(i)
            if not opt.isEmpty():
                opt.get().unpersist(False)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """localCheckpoint ``df`` eagerly, then free any generation
        older than ``lag`` rounds (safe: nothing references it)."""
        before = self._persisted_ids()
        out = df.localCheckpoint(eager=True)
        self._gens.append(self._persisted_ids() - before)
        while len(self._gens) > self._lag + 1:
            self._free(self._gens.pop(0))
        return out

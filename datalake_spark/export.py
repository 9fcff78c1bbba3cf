"""Training-shard export: materialize a curated corpus as N deterministic
parquet shards a training loader can stream.

The layout is the one a 100 TB run wants:

- every row hashes to a shard by a seeded, engine-portable key
  (``md5(seed:id)``) — re-running the export with the same seed and corpus
  reproduces byte-identical shard membership and order, which is what makes
  a training run restartable and its data order auditable;
- rows are sorted *within* each shard by the full hash — the global
  "shuffled" order is (shard, position), so no global sort exists anywhere
  in the plan (cf. queries/pipeline_q.py:deterministic_shuffle, the
  driver-gated query twin of this writer);
- one output file per shard (``repartition`` on the shard id before a
  ``partitionBy`` write), so the file count is the shard count, not the
  input task count.

The reference has no training-export analog; this is LLM-pipeline surface
(round-4 brief).  The manifest keeps per-shard row counts — an ``n_shards``-
row driver read, bounded by construction.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHARD_COL = "shard"
KEY_COL = "_skey"
MANIFEST = "_training_manifest.json"


def shard_key(id_col: str, seed: str) -> F.Column:
    """Engine-portable shuffle key: md5 of ``seed:id``.  Uniform, so shard
    sizes concentrate tightly around n_rows / n_shards."""
    return F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))


def shard_of(key: F.Column, n_shards: int) -> F.Column:
    """Shard id from the key's first 8 hex chars (32 uniform bits)."""
    return (F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shuf42",
    fmt: str = "parquet",
    compression: str | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` deterministic shards under ``path``
    (dirs ``shard=K``, one data file each) and return the manifest.

    ``fmt`` is ``parquet`` (columnar, default) or ``jsonl`` (the
    line-delimited form most training loaders stream; pass
    ``compression="gzip"`` for .json.gz shard files).  Membership and
    order are format-independent — the same seed yields the same shards
    either way.

    The input should already be curated (deduped/filtered); this writer
    only fixes membership and order.  Keeps ``_skey`` in the output so a
    reader can verify or re-establish intra-shard order without knowing
    the seed.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"fmt must be parquet or jsonl, got {fmt!r}")
    keyed = df.withColumn(KEY_COL, shard_key(id_col, seed)).withColumn(
        SHARD_COL, shard_of(F.col(KEY_COL), n_shards)
    )
    writer = (
        keyed.repartition(n_shards, F.col(SHARD_COL))
        .sortWithinPartitions(KEY_COL, id_col)
        .write.mode("overwrite")
        .partitionBy(SHARD_COL)
    )
    if compression is not None:
        writer = writer.option("compression", compression)
    if fmt == "jsonl":
        writer.json(path)
    else:
        writer.parquet(path)
    counts = {
        int(r[SHARD_COL]): int(r["n"])
        for r in keyed.groupBy(SHARD_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: n_shards rows
    }
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "format": fmt,
        "rows_per_shard": {str(k): counts.get(k, 0) for k in range(n_shards)},
        "n_rows": sum(counts.values()),
    }
    with open(os.path.join(path, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def read_training_shard(
    spark: SparkSession, path: str, shard: int, id_col: str = "doc_id",
    fmt: str | None = None,
) -> DataFrame:
    """One shard, in training order.  File scans don't guarantee row
    order, so the order is re-established from the persisted key — a sort
    of one shard, never the corpus.  ``fmt`` defaults to the manifest's."""
    if fmt is None:
        try:
            fmt = read_manifest(path).get("format", "parquet")
        except FileNotFoundError:
            fmt = "parquet"
    reader = spark.read.json if fmt == "jsonl" else spark.read.parquet
    return (
        reader(path)
        .filter(F.col(SHARD_COL) == shard)
        .orderBy(KEY_COL, id_col)
    )


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)


def shard_file_counts(path: str) -> dict[int, int]:
    """Data files per shard dir — the fragmentation metric streaming
    appends degrade (one file per shard per micro-batch).  Driver-side
    listing; at object-store scale feed this from the inventory."""
    counts: dict[int, int] = {}
    for entry in os.listdir(path):
        if not entry.startswith(f"{SHARD_COL}="):
            continue
        n = sum(
            1
            for f in os.listdir(os.path.join(path, entry))
            if f.endswith(".parquet")
        )
        counts[int(entry.split("=", 1)[1])] = n
    return counts


def compact_shards(
    spark: SparkSession, path: str, max_files_per_shard: int = 16
) -> bool:
    """Rewrite the shard layout to one file per shard when a streaming
    writer has fragmented it past the threshold; returns whether a
    rewrite ran.  Membership and order live in the persisted shard/_skey
    columns, so the rewrite is a pure repartition+sort — no re-hash, and
    a training loader sees identical shards afterwards.

    The rewrite reads the live layout and writes a staging sibling
    directory, then swaps it in by two renames (live → ``.old``, staging
    → live) and moves over what is not shard data (the manifest, a
    curator's ``_signatures`` store).  Nothing is cached or
    checkpointed, so a long-lived caller keeps no copy of the layout per
    compaction.  On object storage, write to a version dir and flip a
    manifest exactly like Catalog.compact."""
    counts = shard_file_counts(path)
    if not counts or max(counts.values()) <= max_files_per_shard:
        return False
    path = path.rstrip("/")
    staging, old = f"{path}.compacting", f"{path}.old"
    # an earlier compaction that crashed after its swap: finish it
    if os.path.isdir(old):
        _carry_over(old, path)
        shutil.rmtree(old)
    shutil.rmtree(staging, ignore_errors=True)
    spark.read.parquet(path).repartition(
        len(counts), F.col(SHARD_COL)
    ).sortWithinPartitions(KEY_COL).write.partitionBy(SHARD_COL).parquet(
        staging
    )
    os.rename(path, old)
    os.rename(staging, path)
    _carry_over(old, path)
    shutil.rmtree(old)
    return True


def _carry_over(src: str, dst: str) -> None:
    """Move the entries of ``src`` that are not shard data and that
    ``dst`` lacks into ``dst``."""
    for name in os.listdir(src):
        if not name.startswith(f"{SHARD_COL}=") and not os.path.exists(
            os.path.join(dst, name)
        ):
            os.rename(os.path.join(src, name), os.path.join(dst, name))


def write_webdataset(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shuf42",
    text_col: str = "text",
) -> dict:
    """Write the corpus as WebDataset-style tar shards: ``shard-KKKKK.tar``
    files whose members come in ``{key}.txt`` (the document) /
    ``{key}.json`` (all other columns) pairs — the layout streaming
    multimodal/LLM loaders (webdataset, torchdata) consume directly.

    Same membership contract as :func:`write_training_shards`: the seeded
    md5 key fixes shard assignment AND intra-shard order, so the same
    (corpus, seed) reproduces BYTE-identical tars — member headers are
    pinned (mtime 0, uid/gid 0, ustar format), keys embed the shuffle
    hash so member order is the deterministic shuffled order, and the
    manifest records each shard's md5 as the reproducibility receipt.

    Scale shape: rows are hash-partitioned by shard id and each executor
    task STREAMS its shard(s) straight into the tar (no per-shard
    buffering of the corpus in memory); stats come back as one tiny
    frame.  Tar member count per shard = corpus/n_shards — size shards
    so one fits a loader's sequential-read window (~1-10 GB).
    """
    import pandas as pd

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    os.makedirs(path, exist_ok=True)
    # sweep stale temps from prior CRASHED runs — age-gated: a temp
    # younger than an hour may belong to a CONCURRENT export into the
    # same dir (concurrent runs are last-finished-wins safe; unlinking a
    # live temp would fail that run at its publish os.replace), while a
    # crashed run's temps only ever get older
    import glob as _glob
    import time as _time

    stale_before = _time.time() - 3600
    for stale in _glob.glob(os.path.join(path, "shard-*.tar.tmp-*")):
        try:
            if os.path.getmtime(stale) < stale_before:
                os.remove(stale)
        except FileNotFoundError:
            pass
    meta_cols = [c for c in df.columns if c != text_col]
    keyed = df.withColumn(KEY_COL, shard_key(id_col, seed)).withColumn(
        SHARD_COL, shard_of(F.col(KEY_COL), n_shards)
    )
    arranged = keyed.repartition(n_shards, F.col(SHARD_COL)) \
        .sortWithinPartitions(SHARD_COL, KEY_COL, id_col)

    def write_part(batches):
        import hashlib
        import tarfile

        class _HashingFile:
            # Writes go to a task-attempt-unique temp name, atomically
            # renamed into place on close: a speculative duplicate (or
            # retried) attempt can never interleave bytes into the final
            # shard file — last finished attempt wins whole, and both
            # attempts produce byte-identical tars (deterministic member
            # set + order), so whichever stats row Spark keeps is right.
            # close() is idempotent (tarfile may close the fileobj it was
            # handed, and cleanup paths re-close); abort() unlinks the
            # temp of a failed attempt instead of publishing it.
            def __init__(self, fpath):
                import uuid as _uuid

                self.final = fpath
                self.tmp = f"{fpath}.tmp-{_uuid.uuid4().hex[:12]}"
                self.f = open(self.tmp, "wb")
                self.h = hashlib.md5()
                self.n = 0
                self.closed = False

            def write(self, b):
                self.h.update(b)
                self.n += len(b)
                return self.f.write(b)

            def tell(self):
                return self.f.tell()

            def close(self):
                if self.closed:
                    return
                self.closed = True
                self.f.close()
                os.replace(self.tmp, self.final)

            def abort(self):
                if self.closed:
                    return
                self.closed = True
                self.f.close()
                try:
                    os.remove(self.tmp)
                except FileNotFoundError:
                    pass

        open_tars: dict[int, tuple] = {}  # shard -> (tar, hfile, count)

        def tar_for(shard: int):
            if shard not in open_tars:
                hf = _HashingFile(
                    os.path.join(path, f"shard-{shard:05d}.tar")
                )
                t = tarfile.open(
                    fileobj=hf, mode="w", format=tarfile.USTAR_FORMAT
                )
                open_tars[shard] = [t, hf, 0]
            return open_tars[shard]

        def add(t, name: str, data: bytes):
            import io

            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            info.mode = 0o644
            t.addfile(info, io.BytesIO(data))

        try:
            for pdf in batches:
                # dict records, not itertuples: namedtuples positionalize
                # underscore-leading names like _skey
                for d in pdf.to_dict("records"):
                    shard = int(d[SHARD_COL])
                    ent = tar_for(shard)
                    # the seeded md5 hex IS the shuffle position: prefixing
                    # it makes lexicographic member order the stored order
                    key = f"{d[KEY_COL]}-{d[id_col]}"
                    meta = {
                        c: d[c]
                        for c in meta_cols
                        if c not in (KEY_COL, SHARD_COL)
                    }
                    add(ent[0], f"{key}.txt",
                        str(d[text_col] or "").encode("utf-8"))
                    add(
                        ent[0],
                        f"{key}.json",
                        json.dumps(meta, sort_keys=True, default=str).encode(),
                    )
                    ent[2] += 1
        except BaseException:
            # failed attempt: unlink temps instead of publishing them —
            # a retry writes its own attempt-unique temp names
            for t, hf, _cnt in open_tars.values():
                try:
                    t.close()
                except Exception:
                    pass
                hf.abort()
            raise
        out = {"shard": [], "n_members": [], "n_bytes": [], "md5": []}
        for shard, (t, hf, cnt) in sorted(open_tars.items()):
            t.close()
            hf.close()
            out["shard"].append(shard)
            out["n_members"].append(cnt)
            out["n_bytes"].append(hf.n)
            out["md5"].append(hf.h.hexdigest())
        yield pd.DataFrame(out)

    stats = arranged.mapInPandas(
        write_part, "shard int, n_members long, n_bytes long, md5 string"
    ).collect()
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "format": "webdataset",
        "rows_per_shard": {
            str(r["shard"]): int(r["n_members"]) for r in stats
        },
        "md5_per_shard": {str(r["shard"]): r["md5"] for r in stats},
        "n_rows": int(sum(r["n_members"] for r in stats)),
    }
    with open(os.path.join(path, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def read_webdataset_shard(path: str, shard: int):
    """Iterate (key, text, meta) tuples of one tar shard in stored order
    — the loader-side contract of :func:`write_webdataset`."""
    import tarfile

    with tarfile.open(
        os.path.join(path, f"shard-{shard:05d}.tar"), "r"
    ) as t:
        pending: dict[str, dict] = {}
        for m in t:
            base, ext = m.name.rsplit(".", 1)
            slot = pending.setdefault(base, {})
            data = t.extractfile(m).read()
            slot[ext] = data
            if "txt" in slot and "json" in slot:
                yield base, slot["txt"].decode("utf-8"), json.loads(
                    slot["json"]
                )
                del pending[base]


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "shuf42",
) -> DataFrame:
    """Concat-and-chunk sequence packing map: which fixed-token-budget
    training sequence does each document land in, and at what token
    offset — the packing step a training-data pipeline runs so short
    documents don't waste context-window tokens as padding.  No
    reference analog (LLM-brief surface).

    Documents take their deterministic shard+shuffle order (the same
    seeded md5 key as write_training_shards, so packing matches the
    shard layout byte-for-byte), a per-shard running token total
    assigns ``seq_id = floor(tokens_before / budget)`` and
    ``offset_tokens = tokens_before % budget`` — exactly concatenate-
    then-split-at-budget-boundaries, expressed as ONE partitioned
    window (no global sort; shards pack independently, the 100 TB
    shape).  A doc may straddle two sequences (its tail flows into
    seq_id + 1), as concat-and-chunk training intends.

    Returns (id, shard, n_tokens, seq_id, offset_tokens).
    """
    from pyspark.sql import Window

    toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    ).cast("bigint")
    keyed = df.select(
        F.col(id_col),
        shard_key(id_col, seed).alias("_skey"),
        toks.alias("n_tokens"),
    ).withColumn("shard", shard_of(F.col("_skey"), n_shards))
    w = (
        Window.partitionBy("shard")
        .orderBy("_skey", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return keyed.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(before / budget_tokens).cast("bigint").alias("seq_id"),
        (before % budget_tokens).cast("bigint").alias("offset_tokens"),
    )

"""BPE tokenizer training on a Spark corpus — learn the merge table, not
just count tokens.

Classic byte-pair-encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"; the reference archive has no
analog — LLM-brief item): repeatedly find the most frequent adjacent symbol
pair over the word-frequency dictionary and fuse it into a new symbol.  The
scale structure mirrors the original algorithm's: ONE corpus-wide shuffle
builds the word-frequency dict, and every merge round after that operates on
the VOCABULARY (Heaps-sublinear in corpus size), so training cost is
dominated by a single pass over the data no matter how many merges follow.

Determinism/portability discipline:
- ties broken (count desc, left asc, right asc) — in-plan via
  min(struct(-cnt, a, b)) with no window over the pair table, in-driver
  via the identical heap key;
- per distributed round, exactly one 1-row aggregate job picks the
  winner and one vocabulary-sized job materializes the fused frame
  (bounding the cache to two frames — no persisted-frame leak across
  rounds);
- merge application is ONE plain ``replace`` per rule over the
  DOUBLE-SPACE encoding of the symbol sequence (``_enc_seq`` /
  ``_merge_rule``): with one pad space at each end and two spaces
  between symbols, the pattern " l  r " consumes exactly one boundary
  space per side, so replace()'s resume-after-match scanning chains
  across runs and one pass IS the canonical greedy single-scan
  (i -> i+2 on match) — in Spark and DuckDB alike, no regex needed.
  r6 replaced the iterated single-space replace here, which consumed
  its boundary space and stranded singles inside same-symbol runs
  (" a a a a a a " fixpointed at " aa a aa a " instead of greedy
  " aa aa aa "), an under-merge the in-driver/pure-Python trainers
  never had.

Two equivalent trainers behind one budget gate: the word-frequency dict
is Heaps-sublinear in corpus size, so when it fits
``local_vocab_budget`` the merge loop runs in-driver (incremental pair
counts + lazy heap — 32 k merges in seconds); otherwise the distributed
single-scan rounds run.  A test pins both paths equal (including a
30-char same-symbol-run corpus on the forced distributed path).
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

from pyspark.sql import DataFrame, functions as F

from datalake_spark.session import persisted


def _local_bpe_train(
    rows: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """In-driver Sennrich trainer over a collected (word, freq) dict.

    Incrementally maintained: a pair→count table, a pair→{containing
    words} index, and a lazy-deletion max-heap over the counts, so each
    merge costs O(symbols of affected words + log-heap) rather than a
    full vocabulary rescan — the structure that makes 32 k merges
    tractable.  Tie-break matches the in-plan aggregate exactly:
    (count desc, left asc, right asc)."""
    freqs = [f for _, f in rows]
    seqs = [list(w) for w, _ in rows]
    pc: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, syms in enumerate(seqs):
        f = freqs[wid]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pc[p] += f
            where[p].add(wid)
    heap = [(-c, a, b) for (a, b), c in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges and heap:
        nc, a, b = heapq.heappop(heap)
        cur = pc.get((a, b), 0)
        if cur <= 0 or -nc != cur:  # stale heap entry (lazy deletion)
            continue
        merges.append((a, b, cur))
        ab = a + b
        touched: Counter = Counter()
        for wid in sorted(where[(a, b)]):
            syms = seqs[wid]
            f = freqs[wid]
            # retract the word's whole pair contribution, merge greedily
            # left-to-right non-overlapping, then re-add — simple and
            # exactly the reference merge-all application
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] -= f
                touched[p] += 0
                if pc[p] <= 0:
                    pc.pop(p, None)
                where[p].discard(wid)
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[wid] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] += f
                touched[p] += 0
                where[p].add(wid)
        for p in touched:
            if p in pc:
                heapq.heappush(heap, (-pc[p], p[0], p[1]))
    return merges


def _enc_seq(col):
    """Double-space encoding of a single-space symbol sequence: one pad
    space at each end, TWO spaces between symbols.  Under this encoding
    a pair pattern " l  r " consumes exactly one boundary space on each
    side and leaves the other in the stream, so plain replace()'s
    resume-after-match scanning chains across a run — one pass is
    exactly the canonical greedy single-scan (i -> i+2 on match).

    Iterated single-space ``replace(" l r ", " lr ")`` is NOT that
    operator: a match eats its trailing space, the scan resumes
    mid-pair, and same-symbol runs strand singles between merged
    symbols (" a a a a a a " fixpoints at " aa a aa a " where greedy
    BPE gives " aa aa aa ") — with no pass count fixing it."""
    return F.concat(
        F.lit(" "), F.replace(col, F.lit(" "), F.lit("  ")), F.lit(" ")
    )


def _apply_rule_enc(enc_col, left, right):
    """One merge rule over an encoded sequence; ``left``/``right`` are
    Columns, so learned rules can stay in-plan (broadcast row).  The
    replacement " lr " keeps the encoding invariant (its pads fuse with
    the neighbors' remaining separator spaces)."""
    pat = F.concat(F.lit(" "), left, F.lit("  "), right, F.lit(" "))
    rep = F.concat(F.lit(" "), left, right, F.lit(" "))
    return F.replace(enc_col, pat, rep)


def _dec_seq(col):
    return F.replace(F.trim(col), F.lit("  "), F.lit(" "))


def _merge_rule(col, left: str, right: str):
    """Exact greedy single-scan application of one BPE merge rule to a
    single-space symbol sequence (see :func:`_enc_seq` for why)."""
    return _dec_seq(_apply_rule_enc(_enc_seq(col), F.lit(left), F.lit(right)))


def _pairs_of(syms_col: str):
    """Adjacent symbol pairs of a pre-split symbol ARRAY column (guarded:
    1-symbol words yield no pairs, not a descending sequence() error).
    Takes the array, not the string — element_at(split(..)) inside the
    lambda would re-split the sequence per position."""
    return F.explode(
        F.when(
            F.size(F.col(syms_col)) >= 2,
            F.expr(
                f"transform(sequence(1, size({syms_col}) - 1), "
                f"i -> struct(element_at({syms_col}, i) as a, "
                f"element_at({syms_col}, i + 1) as b))"
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    local_vocab_budget: int = 1_000_000,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus.

    Returns (rank, left, right, pair_count): rank-r is the r-th merge,
    pair_count its corpus frequency (weighted by word frequency) at the
    moment it was chosen.  Merge application on the distributed path is
    one plain replace per round over the double-space encoding
    (:func:`_merge_rule`) — exact greedy single-scan semantics with NO
    caller-trusted pass bound, so arbitrarily long words (and
    same-symbol runs) merge correctly.

    Scale adaptivity (the connected_components budget pattern,
    dedup.py): after the single corpus-wide shuffle to the
    word-frequency dict, the dict's size is counted against
    ``local_vocab_budget``.  Vocabulary is Heaps-sublinear in corpus
    size, so even a 100 TB corpus usually lands a dict of a few million
    entries (~100 B each → the 1M default is ~100 MB of driver heap) —
    under budget the merge loop runs in-driver with incrementally
    maintained pair counts + a lazy heap, making a realistic 32 k-merge
    vocabulary seconds of driver CPU instead of 32 k sequential Spark
    jobs.  Over budget, the distributed in-plan rounds run (vocabulary-
    sized per round; each round unpersists its predecessor).  Both paths
    emit the identical merge table — a test pins them equal.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    wc = persisted(words.groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    if wc.count() <= local_vocab_budget:
        rows = [(r["w"], r["freq"]) for r in wc.collect()]
        wc.unpersist()
        merges = _local_bpe_train(rows, n_merges)
        return df.sparkSession.createDataFrame(
            [
                (r + 1, a, b, cnt)
                for r, (a, b, cnt) in enumerate(merges)
            ],
            "rank int, left string, right string, pair_count bigint",
        )
    seq = persisted(wc.select(
        "freq", F.concat_ws(" ", F.split(F.col("w"), "")).alias("seq")
    ))
    wc.unpersist()
    merge_rows: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pair_cnt = (
            seq.select("freq", F.split(F.col("seq"), " ").alias("_syms"))
            .select("freq", _pairs_of("_syms").alias("p"))
            .select("freq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        # the winner is a deterministic 1-row aggregate (ties broken
        # count desc, left asc, right asc via min(struct)) — one
        # vocabulary-sized job per round
        trow = pair_cnt.agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("a").alias("ta"),
                    F.col("b").alias("tb"),
                )
            ).alias("m")
        ).select("m.ta", "m.tb", (-F.col("m.nc")).alias("tcnt")).collect()[0]
        if trow["ta"] is None:  # no pairs left (all words fused to 1 symbol)
            break
        merge_rows.append((r, trow["ta"], trow["tb"], int(trow["tcnt"])))
        fused = _merge_rule(F.col("seq"), trow["ta"], trow["tb"])
        new_seq = persisted(seq.select("freq", fused.alias("seq")))
        # materialize the round's frame while its predecessor is still
        # cached (else the unpersist forces a full-lineage recompute),
        # then release the predecessor — bounds the training to two
        # vocabulary-sized cached frames instead of leaking one per merge
        new_seq.count()
        seq.unpersist()
        seq = new_seq
    seq.unpersist()
    return df.sparkSession.createDataFrame(
        merge_rows, "rank int, left string, right string, pair_count bigint"
    )


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table to a corpus: adds ``bpe_seq`` (the
    space-joined symbol sequence of the WHOLE text, words separated by the
    literal symbol ``▁``) and ``n_bpe_symbols``.  Merge rules apply in
    rank order, each as one exact greedy single-scan pass
    (:func:`_merge_rule`), so segmentation is exactly what the trained
    tokenizer would emit — no pass bound to size to the corpus."""
    spaced = F.concat_ws(
        " ▁ ", F.transform(
            F.split(F.col(text_col), " "),
            lambda w: F.concat_ws(" ", F.split(w, "")),
        )
    )
    # encode once, apply every rule on the encoded form (the invariant
    # survives each rule), decode once
    fused = _enc_seq(spaced)
    for left, right in merges:
        fused = _apply_rule_enc(fused, F.lit(left), F.lit(right))
    out = _dec_seq(fused)
    return df.withColumn("bpe_seq", out).withColumn(
        "n_bpe_symbols", F.size(F.split(out, " ")).cast("bigint")
    )

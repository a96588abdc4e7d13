"""DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
NeurIPS — arXiv:2302.03169), the public method for selecting raw-corpus
documents that look like a target corpus (e.g. "select web pages that
look like Wikipedia") by importance weighting on hashed n-gram features.

Pipeline shape (all three stages are the right shape for 100 TB):

1. ``fit_dsir`` — per-corpus hashed-token bucket counts: one
   map-side-combined count shuffle per corpus whose output is
   B-sized (B = n_buckets, default 4096), NOT corpus-sized. The add-α
   smoothed log-ratio vector lr_j = ln p_target(j) - ln p_raw(j) is
   computed driver-side from the two B-sized count relations (the
   sketch-collect precedent: driver state bounded by B, never by n).
2. ``dsir_score`` — per-document log importance weight
   log w(doc) = Σ_tokens lr_{hash(token)}: batch frames score in ONE
   mapInArrow pass that closes over the B-sized vector, hashes each
   Arrow batch's distinct features only and folds every document
   left-to-right — zero shuffle, no join, embarrassingly parallel.
   ``arrow=False`` keeps the expression fold over a 1-row broadcast
   relation, and streaming frames fold over a literal array; both
   give bit-identical rows.
3. ``dsir_resample`` — sample k docs WITHOUT replacement with
   probability ∝ exp(log w) via Gumbel-top-k: key = log w + g where
   g = -ln(-ln(u)) and u is the deterministic md5-fraction of the doc
   id (sampling.hash_fraction), so the draw is reproducible across
   runs/partitionings and exactly replayable in ANSI SQL — the same
   determinism contract as the whole sampling tier. Top-k runs as
   Spark's distributed TakeOrderedAndProject (per-partition top-k,
   driver merges k rows); for budget-sized k at 100 TB pass
   ``threshold=`` instead and selection becomes a pure map filter.

Tokenization and bucketing reuse text.tokens / text.hash_bucket (the
one md5-u32 recipe), so the DuckDB oracle replays bucket counts,
log-ratios, scores, Gumbel keys, and the top-k rank identically;
scores/keys are rounded to 4 dp on both sides (the lm_score precedent:
sum-order float drift is ~1e-14 against a 5e-5 rounding quantum).

Reference scope: jolars/sgdnet has no data-selection tier; this extends
the training-pipeline surface the same way dedup/sampling/scrub do.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sgdnet_spark.operators.sampling import hash_u32
from sgdnet_spark.operators.text import hash_bucket, tokens

_U32 = float(1 << 32)


def _py_buckets(uniq, n_buckets: int, salt: str) -> np.ndarray:
    """Vectorized-over-uniques twin of text.hash_bucket: bucket =
    (first 4 bytes of md5(utf8(tok) + salt + 'b') as big-endian u32)
    % n_buckets — bit-identical to the JVM expression chain
    conv(substring(md5(concat(tok, salt||'b')), 1, 8), 16, 10) % B
    (asserted per-call in tests/test_dsir.py's pure-python replays and
    the arrow-vs-expression parity test). Called on the DISTINCT
    tokens of an Arrow batch only: the md5 cost scales with unique
    terms, not token occurrences (guide §4.2)."""
    from hashlib import md5

    s = (salt + "b").encode("utf-8")
    out = np.empty(len(uniq), dtype=np.int64)
    for i, tok in enumerate(uniq):
        out[i] = (
            int.from_bytes(md5(tok.encode("utf-8") + s).digest()[:4], "big")
            % n_buckets
        )
    return out


def _segmented_left_fold(acc: np.ndarray, vals: np.ndarray,
                         lengths: np.ndarray) -> None:
    """acc[d] += vals of segment d, added STRICTLY LEFT-TO-RIGHT within
    each segment — the IEEE-exact twin of Spark's aggregate() fold
    (float addition is order-sensitive; np.sum's pairwise summation
    would drift). Segments are visited longest first, so in-segment
    position p is one vectorized add over the still-active prefix; once
    a single segment remains, one np.add.accumulate (a sequential left
    fold) finishes its tail. Total work is O(len(vals) + segments);
    python overhead is the SECOND-longest segment length, so one
    outlier document costs no more than its own tokens."""
    if len(vals) == 0:
        return
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    order = np.argsort(-lengths, kind="stable")
    lens, starts = lengths[order], starts[order]
    second = int(lens[1]) if len(lens) > 1 else 0
    # active[p] = #segments longer than p: a prefix of the sorted order
    active = np.searchsorted(-lens, -np.arange(second), side="left")
    for p, m in enumerate(active):
        acc[order[:m]] += vals[starts[:m] + p]
    d, s, e = order[0], starts[0] + second, starts[0] + lens[0]
    if e > s:
        acc[d] = np.add.accumulate(np.concatenate([[acc[d]], vals[s:e]]))[-1]


def _features(text_col: str, bigrams: bool):
    """array<string> of hashed-feature inputs per doc: the tokens, plus
    (paper-faithful option) the adjacent bigrams rendered as 'w1_w2' —
    built by zipping two shifted slices of the token array (the
    repetition_stats zip-shift precedent), still one in-row pass."""
    t = tokens(text_col)
    if not bigrams:
        return t
    bg = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    return F.concat(t, F.when(F.size(t) >= 2, bg).otherwise(F.array()))


def _bucket_counts(
    df: DataFrame, n_buckets: int, salt: str, text_col: str, bigrams: bool
):
    """(j, c) hashed-feature bucket counts: explode + map-side-combined
    count, output B-sized. The input spreads across cores first — a
    small single-file scan otherwise serializes the whole tokenize+hash
    pipeline onto 1-2 tasks (no-op on well-partitioned scans)."""
    from sgdnet_spark.session import spread_small_input

    df = spread_small_input(df)
    return (
        df.select(F.explode(_features(text_col, bigrams)).alias("w"))
        .select(hash_bucket(F.col("w"), n_buckets, salt).alias("j"))
        .groupBy("j")
        .count()
    )


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "ds",
    text_col: str = "text",
    bigrams: bool = False,
) -> list[float]:
    """Fit the bucket log-importance-ratio vector lr (length n_buckets):

        lr_j = ln((c_target_j + α) / (N_target + αB))
             - ln((c_raw_j + α) / (N_raw + αB))

    i.e. the log ratio of add-α smoothed hashed-feature probabilities.
    Two B-sized count aggregations; the vector itself is driver-sized
    (B doubles) and ships to dsir_score, whose Arrow pass closes over
    it (the ``arrow=False`` and streaming paths carry it in the plan).
    ``bigrams=True`` hashes adjacent word pairs alongside the unigrams
    (the paper's hashed n-gram feature set); fit and scoring must use
    the same setting.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    lr = [0.0] * n_buckets
    consts = []
    for df, sign in ((target, 1.0), (raw, -1.0)):
        counts = dict(
            _bucket_counts(df, n_buckets, salt, text_col, bigrams).collect()
        )
        n_total = sum(counts.values())
        consts.append((counts, sign, math.log(n_total + alpha * n_buckets)))
    for counts, sign, log_denom in consts:
        for j in range(n_buckets):
            lr[j] += sign * (math.log(counts.get(j, 0) + alpha) - log_denom)
    return lr


def fit_dsir_modes(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "ds",
    text_col: str = "text",
) -> dict[str, list[float]]:
    """Fit BOTH feature modes — {'uni': lr, 'bi': lr} — from ONE tagged
    count pass per corpus instead of two independent fits (which would
    scan each corpus twice and re-hash the unigrams inside the bigram
    fit): every feature explodes once carrying an is-bigram tag, the
    count shuffle is keyed (tag, bucket) (2B-sized, still map-side
    combined), and the driver derives uni counts from the tag-0 slice
    and uni+bi counts from both slices. Identical vectors to
    fit_dsir(bigrams=False) / fit_dsir(bigrams=True) — asserted in
    tests/test_dsir.py. Measured 9.0 -> ~5 s wall on the registered
    corpus_dsir entry at sf0.1 (docs/BENCH_NOTES.md).

    Round 13 (optimization): BOTH corpora ride ONE tagged union pass —
    each side carries a corpus tag through the same explode, the count
    shuffle is keyed (corpus, tag, bucket) (4B-sized), and the driver
    slices per corpus. One collect round trip instead of two serial
    ones; per-(bucket, tag) counts — and therefore the lr vectors — are
    unchanged (guide §1.2/§2.6).

    Round 14 (optimization, guide §4.2): the per-occurrence md5 explode
    became ONE mapInArrow counting pass per corpus — Python hashes only
    each Arrow batch's DISTINCT tokens / distinct bigram code pairs and
    emits ≤ 2B-sized (bi, j, cnt) partials (np.bincount over
    dictionary codes), which one (c, bi, j)-keyed sum reduces exactly
    as before. Counts are exact integers, so the lr vectors are
    bit-identical — asserted against the expression-path fit_dsir in
    tests/test_dsir.py::test_fit_modes_equals_independent_fits.
    The speed of this rewrite was not measured (the md5-per-occurrence
    JVM chain it replaced was the engine's largest CPU block)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    from sgdnet_spark.session import spread_small_input

    def count_batches(batches):
        import pyarrow as pa

        for batch in batches:
            if len(batch) == 0:
                continue
            lengths, codes, uniq = _split_norm_batch(batch.column(0))
            if len(codes) == 0:
                continue
            bk = _py_buckets(uniq, n_buckets, salt)
            out_bi, out_j, out_c = [], [], []
            # unigrams: occurrences per unique code, summed per bucket
            cnt = np.zeros(n_buckets, dtype=np.int64)
            np.add.at(cnt, bk, np.bincount(codes, minlength=len(uniq)))
            nz = np.nonzero(cnt)[0]
            out_bi.append(np.zeros(len(nz), dtype=np.int32))
            out_j.append(nz.astype(np.int64))
            out_c.append(cnt[nz])
            # bigrams: distinct in-document adjacent code pairs
            starts = np.zeros(len(lengths), dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])
            pos_in_doc = np.arange(len(codes), dtype=np.int64) - np.repeat(
                starts, lengths
            )
            j = np.nonzero(pos_in_doc < np.repeat(lengths, lengths) - 1)[0]
            if len(j):
                pair = codes[j] * np.int64(len(uniq)) + codes[j + 1]
                pu, pcnt = np.unique(pair, return_counts=True)
                ua, ub = np.divmod(pu, np.int64(len(uniq)))
                bstr = [f"{uniq[a]}_{uniq[b]}" for a, b in zip(ua, ub)]
                bcnt = np.zeros(n_buckets, dtype=np.int64)
                np.add.at(bcnt, _py_buckets(bstr, n_buckets, salt), pcnt)
                nz = np.nonzero(bcnt)[0]
                out_bi.append(np.ones(len(nz), dtype=np.int32))
                out_j.append(nz.astype(np.int64))
                out_c.append(bcnt[nz])
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_bi), pa.int32()),
                    pa.array(np.concatenate(out_j), pa.int64()),
                    pa.array(np.concatenate(out_c), pa.int64()),
                ],
                names=["bi", "j", "cnt"],
            )

    def tagged_counts(df: DataFrame, corpus: int) -> DataFrame:
        from sgdnet_spark.operators.text import norm_text

        base = spread_small_input(df).select(norm_text(text_col).alias("__n"))
        part = base.mapInArrow(
            count_batches, schema="bi int, j bigint, cnt bigint"
        )
        return part.select(F.lit(corpus).alias("c"), "bi", "j", "cnt")

    rows = (
        tagged_counts(target, 0)
        .unionByName(tagged_counts(raw, 1))
        .groupBy("c", "bi", "j")
        .agg(F.sum("cnt").alias("count"))
        .collect()
    )
    tc = {(r["bi"], r["j"]): r["count"] for r in rows if r["c"] == 0}
    rc = {(r["bi"], r["j"]): r["count"] for r in rows if r["c"] == 1}
    out: dict[str, list[float]] = {}
    for mode, tags in (("uni", (0,)), ("bi", (0, 1))):
        lr = [0.0] * n_buckets
        for counts, sign in ((tc, 1.0), (rc, -1.0)):
            c = [
                sum(counts.get((b, j), 0) for b in tags)
                for j in range(n_buckets)
            ]
            log_denom = math.log(sum(c) + alpha * n_buckets)
            for j in range(n_buckets):
                lr[j] += sign * (math.log(c[j] + alpha) - log_denom)
        out[mode] = lr
    return out


def dsir_score(
    df: DataFrame,
    logratios: list[float],
    salt: str = "ds",
    text_col: str = "text",
    id_col: str = "doc_id",
    rpos: int = 4,
    bigrams: bool = False,
    arrow: bool = True,
) -> DataFrame:
    """Per-document log importance weight: Σ_features lr_{hash(feat)}.
    Returns (id, n_tokens, logw) with logw rounded to ``rpos`` dp.

    Round 14 (optimization, guide §4.2): the per-feature md5 fold is
    the engine's single largest CPU block (≈44 s CPU inside the
    corpus_prep dsir stage at sf0.1 — each occurrence pays a JVM
    MessageDigest + hex + conv(…, 16, 10) string parse). Batch scoring
    now runs as ONE mapInArrow pass: tokens still come from the JVM
    tokenizer (term semantics cannot drift), Python hashes only the
    DISTINCT terms of each Arrow batch (dictionary-encode first — md5
    cost scales with vocabulary, not occurrences), bigram features
    hash only distinct CODE PAIRS, and the per-document sum replays
    Spark's aggregate() fold strictly left-to-right (tokens then
    bigrams), so every double is bit-identical to the expression path
    (parity test:
    tests/test_dsir.py::test_arrow_score_matches_expression_path).
    Rounding stays in the JVM on the raw sums.

    ``arrow=False`` keeps the round-13 expression fold (the lr vector
    as a 1-row broadcast relation); streaming frames always use the
    literal-array expression form (a streaming plan compiles once, and
    stream⨯static cross joins are not universally supported)."""
    if not logratios:
        raise ValueError("logratios must be non-empty (fit_dsir output)")
    n_buckets = len(logratios)

    # NULL-text docs are dropped (the lm_score/repetition_stats precedent,
    # and what the corpus_dsir oracle does): without this, F.size(NULL)
    # yields n_tokens=-1 and logw NULL for direct consumers.
    from sgdnet_spark.session import spread_small_input

    df = spread_small_input(df.filter(F.col(text_col).isNotNull()))
    if not df.isStreaming and arrow:
        return _dsir_score_arrow(
            df, logratios, n_buckets, salt, text_col, id_col, rpos, bigrams
        )
    t = _features(text_col, bigrams)
    if df.isStreaming:
        arr = F.lit([float(v) for v in logratios])
    else:
        # dunder-reserved name (the hash_score '__wv' convention): a
        # caller frame with its own 'lrv' column would otherwise make
        # the reference ambiguous at analysis
        rel = df.sparkSession.createDataFrame(
            [([float(v) for v in logratios],)], "__lrv array<double>"
        )
        df = df.crossJoin(F.broadcast(rel))  # 1-row scalar join
        arr = rel["__lrv"]

    def lr(tok: Column) -> Column:
        return F.element_at(arr, hash_bucket(tok, n_buckets, salt).cast("int") + 1)

    return df.select(
        F.col(id_col),
        F.size(t).cast("bigint").alias("n_tokens"),
        F.round(
            F.aggregate(F.transform(t, lr), F.lit(0.0), lambda a, x: a + x), rpos
        ).alias("logw"),
    )


def _split_norm_batch(col) -> tuple[np.ndarray, np.ndarray, list]:
    """(lengths, codes, uniq) for an Arrow column of NORMALIZED text
    (lower/collapse-ws/trim already applied JVM-side): tokenization is
    ``s.split(" ")``, the exact Python twin of F.split(norm, " ") on
    the collapsed normal form (java Pattern.split with limit -1 keeps
    trailing empties exactly like str.split — and the normal form has
    no leading/trailing/double spaces anyway, so both reduce to
    single-space splitting; "" splits to [""] in both). One string per
    document crosses the Arrow boundary instead of one per token — the
    list<string> conversion was the measured boundary cost. NULL texts
    tokenize to nothing (the explode semantics of the expression
    path). codes/uniq come from pandas factorize (C hash) so md5 runs
    per DISTINCT token only."""
    import pandas as pd

    texts = col.to_pylist()
    toks = [t.split(" ") if t is not None else [] for t in texts]
    lengths = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    flat = np.empty(int(lengths.sum()), dtype=object)
    pos = 0
    for t in toks:
        flat[pos : pos + len(t)] = t
        pos += len(t)
    codes, uniq = pd.factorize(flat)
    return lengths, codes.astype(np.int64), list(uniq)


def _dsir_score_arrow(
    df: DataFrame,
    logratios,
    n_buckets: int,
    salt: str,
    text_col: str,
    id_col: str,
    rpos: int,
    bigrams: bool,
) -> DataFrame:
    """The mapInArrow scoring pass (see dsir_score). Input: (id, JVM-
    normalized text); output: (id, n_tokens, raw fold sum). Only these
    two columns cross the boundary (guide §4.1 column discipline)."""
    from sgdnet_spark.operators.text import norm_text

    lrv = np.asarray([float(v) for v in logratios], dtype=np.float64)
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(F.col(id_col).alias("id"), norm_text(text_col).alias("__n"))

    def score(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            n = len(ids)
            if n == 0:
                yield pa.record_batch(
                    [ids, pa.array([], pa.int64()), pa.array([], pa.float64())],
                    names=["id", "n_tokens", "__raw"],
                )
                continue
            lengths, codes, uniq = _split_norm_batch(batch.column(1))
            tokvals = lrv[_py_buckets(uniq, n_buckets, salt)][codes]
            acc = np.zeros(n, dtype=np.float64)
            _segmented_left_fold(acc, tokvals, lengths)
            n_feats = lengths.copy()
            if bigrams:
                # bigram at flattened position j pairs (tok[j], tok[j+1])
                # iff j's in-document position < len(doc) - 1
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lengths[:-1], out=starts[1:])
                lengths_rep = np.repeat(lengths, lengths)
                pos_in_doc = np.arange(len(codes), dtype=np.int64) - np.repeat(
                    starts, lengths
                )
                j = np.nonzero(pos_in_doc < lengths_rep - 1)[0]
                blen = np.maximum(lengths - 1, 0)
                if len(j):
                    pair = codes[j] * np.int64(len(uniq)) + codes[j + 1]
                    pu, inv = np.unique(pair, return_inverse=True)
                    ua, ub = np.divmod(pu, np.int64(len(uniq)))
                    bstr = [f"{uniq[a]}_{uniq[b]}" for a, b in zip(ua, ub)]
                    bigvals = lrv[_py_buckets(bstr, n_buckets, salt)][inv]
                    # j is sorted, so bigvals is already in (doc, position)
                    # order — continue the fold where the token fold left off
                    _segmented_left_fold(acc, bigvals, blen)
                n_feats += blen
            yield pa.record_batch(
                [ids, pa.array(n_feats, pa.int64()), pa.array(acc, pa.float64())],
                names=["id", "n_tokens", "__raw"],
            )

    out = base.mapInArrow(
        score, schema=f"id {id_type}, n_tokens bigint, __raw double"
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.round("__raw", rpos).alias("logw"),
    )


def gumbel_key(logw: Column, id_col: Column | str, salt: str = "dg") -> Column:
    """Deterministic Gumbel-perturbed key: logw + (-ln(-ln(u))) with
    u = (hash_u32(id) + 0.5) / 2^32 ∈ (0, 1) — the +0.5 keeps u off both
    endpoints so the double log never hits ±inf. Taking the top-k keys
    samples k items without replacement ∝ exp(logw) (the Gumbel-top-k
    identity), but reproducibly: u is a pure md5 function of the id."""
    u = (hash_u32(id_col, salt) + F.lit(0.5)) / F.lit(_U32)
    return logw + (-F.log(-F.log(u)))


def dsir_resample(
    df: DataFrame,
    logratios: list[float],
    k: int | None = None,
    threshold: float | None = None,
    salt: str = "ds",
    gumbel_salt: str = "dg",
    text_col: str = "text",
    id_col: str = "doc_id",
    rpos: int = 4,
    bigrams: bool = False,
) -> DataFrame:
    """DSIR selection: score, Gumbel-perturb, keep the top ``k`` (or,
    for budget-sized selections at scale, every row with key >=
    ``threshold`` — a pure map filter, no ordering anywhere). Returns
    (id, n_tokens, logw, key) with key rounded to ``rpos`` dp; ties on
    the rounded key break by id so the selection is total-order
    deterministic cross-engine. ``bigrams`` must match the fit_dsir
    setting the logratios came from (fit/score feature sets must agree)."""
    if (k is None) == (threshold is None):
        raise ValueError("exactly one of k / threshold must be given")
    scored = dsir_score(df, logratios, salt, text_col, id_col, rpos, bigrams)
    key = F.round(gumbel_key(F.col("logw"), id_col, gumbel_salt), rpos)
    scored = scored.withColumn("key", key)
    if threshold is not None:
        return scored.filter(F.col("key") >= threshold)
    return scored.orderBy(F.desc("key"), F.col(id_col)).limit(k)

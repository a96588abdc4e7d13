"""DSIR (operators/dsir.py): exact pure-python replay of fit + score,
Gumbel-top-k vs threshold equivalence, target-enrichment sanity, and
parameter validation."""

import math

import pytest
from pyspark.sql import functions as F

from sgdnet_spark.operators import dsir as D

_B = 512
_SALT = "ds"


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
    )


def _py_tokens(text):
    import re

    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def _py_bucket(tok, n_buckets, salt):
    import hashlib

    h = hashlib.md5((tok + salt + "b").encode()).hexdigest()
    return int(h[:8], 16) % n_buckets


def test_fit_and_score_match_pure_python_replay(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == "en")
    lr = D.fit_dsir(target, docs, n_buckets=_B, salt=_SALT)

    rows = docs.collect()
    # pure-python fit on the same md5 recipe
    tc, rc = [0] * _B, [0] * _B
    for r in rows:
        for tok in _py_tokens(r["text"]):
            j = _py_bucket(tok, _B, _SALT)
            rc[j] += 1
            if r["lang"] == "en":
                tc[j] += 1
    nt, nr = sum(tc), sum(rc)
    want = [
        math.log(tc[j] + 1.0)
        - math.log(nt + _B)
        - math.log(rc[j] + 1.0)
        + math.log(nr + _B)
        for j in range(_B)
    ]
    assert lr == pytest.approx(want, abs=1e-12)

    got = {
        r["doc_id"]: (r["n_tokens"], r["logw"])
        for r in D.dsir_score(docs, lr, salt=_SALT).collect()
    }
    for r in rows:
        toks = _py_tokens(r["text"])
        s = round(sum(lr[_py_bucket(t, _B, _SALT)] for t in toks), 4)
        n, logw = got[r["doc_id"]]
        assert n == len(toks)
        assert logw == pytest.approx(s, abs=2e-4)  # engine-vs-python sum order


def test_resample_threshold_equals_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    lr = D.fit_dsir(docs.filter(F.col("lang") == "en"), docs, n_buckets=_B,
                    salt=_SALT)
    top = D.dsir_resample(docs, lr, k=40, salt=_SALT).collect()
    assert len(top) == 40
    # keys strictly ordered in the output; threshold at the k-th key
    # reproduces the same selection as a pure map filter (the 100 TB
    # selection path) when no other row ties the boundary
    keys = [r["key"] for r in top]
    assert keys == sorted(keys, reverse=True)
    thr = keys[-1]
    via_thr = D.dsir_resample(docs, lr, threshold=thr, salt=_SALT).collect()
    assert {r["doc_id"] for r in via_thr} >= {r["doc_id"] for r in top}
    # exact equality unless extra rows tie the k-th key
    extra = {r["doc_id"] for r in via_thr} - {r["doc_id"] for r in top}
    assert all(
        r["key"] == thr for r in via_thr if r["doc_id"] in extra
    )


def test_selection_enriches_target_like_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    lr = D.fit_dsir(docs.filter(F.col("lang") == "en"), docs, n_buckets=_B,
                    salt=_SALT)
    scored = D.dsir_score(docs, lr, salt=_SALT).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["lang"]: r["m"]
        for r in scored.groupBy("lang").agg(F.avg("logw").alias("m")).collect()
    }
    # the importance model must on average prefer the target slice
    assert means["en"] > max(v for k, v in means.items() if k != "en")


def test_parameter_validation(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    with pytest.raises(ValueError, match="alpha"):
        D.fit_dsir(docs, docs, n_buckets=8, alpha=0.0)
    with pytest.raises(ValueError, match="exactly one"):
        D.dsir_resample(docs, [0.0] * 8, k=5, threshold=1.0)
    with pytest.raises(ValueError, match="exactly one"):
        D.dsir_resample(docs, [0.0] * 8)


def test_bigram_features_match_pure_python_replay(spark, sf_dir):
    # paper-faithful hashed n-gram features: unigrams + 'w1_w2' bigrams
    docs = _docs(spark, sf_dir).limit(60)
    lr = D.fit_dsir(docs.filter(F.col("lang") == "en"), docs, n_buckets=_B,
                    salt=_SALT, bigrams=True)
    rows = docs.collect()

    def feats(text):
        t = _py_tokens(text)
        return t + [f"{a}_{b}" for a, b in zip(t, t[1:])]

    tc, rc = [0] * _B, [0] * _B
    for r in rows:
        for w in feats(r["text"]):
            j = _py_bucket(w, _B, _SALT)
            rc[j] += 1
            if r["lang"] == "en":
                tc[j] += 1
    nt, nr = sum(tc), sum(rc)
    want = [
        math.log(tc[j] + 1.0) - math.log(nt + _B)
        - math.log(rc[j] + 1.0) + math.log(nr + _B)
        for j in range(_B)
    ]
    assert lr == pytest.approx(want, abs=1e-12)
    got = {r["doc_id"]: (r["n_tokens"], r["logw"])
           for r in D.dsir_score(docs, lr, salt=_SALT, bigrams=True).collect()}
    for r in rows:
        fs = feats(r["text"])
        s = round(sum(lr[_py_bucket(w, _B, _SALT)] for w in fs), 4)
        n, logw = got[r["doc_id"]]
        assert n == len(fs)
        assert logw == pytest.approx(s, abs=2e-4)


def test_resample_passes_bigrams_through(spark, sf_dir):
    # fit with bigrams=True must be scored with the same feature set:
    # dsir_resample(bigrams=True) == manual score+gumbel+topk replay
    docs = _docs(spark, sf_dir).limit(80)
    lr = D.fit_dsir(docs.filter(F.col("lang") == "en"), docs, n_buckets=_B,
                    salt=_SALT, bigrams=True)
    got = D.dsir_resample(docs, lr, k=20, salt=_SALT, bigrams=True).collect()
    want = (
        D.dsir_score(docs, lr, salt=_SALT, bigrams=True)
        .withColumn("key", F.round(D.gumbel_key(F.col("logw"), "doc_id"), 4))
        .orderBy(F.desc("key"), "doc_id")
        .limit(20)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and the unigram scoring of the same docs differs (the mismatch the
    # passthrough prevents)
    uni = {r["doc_id"]: r["logw"]
           for r in D.dsir_score(docs, lr, salt=_SALT).collect()}
    assert any(uni[r["doc_id"]] != r["logw"] for r in got)


def test_score_drops_null_text_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(10)
    with_null = docs.unionByName(
        spark.createDataFrame(
            [(999_999_001, "xx", None)], "doc_id long, lang string, text string"
        )
    )
    lr = [0.1] * 64
    out = D.dsir_score(with_null, lr, salt=_SALT)
    ids = {r["doc_id"] for r in out.collect()}
    assert 999_999_001 not in ids and len(ids) == 10
    assert all(r["n_tokens"] >= 0 for r in out.collect())


def test_fit_modes_equals_independent_fits(spark, sf_dir):
    # the one-pass tagged fit derives EXACTLY the two independent fits
    docs = _docs(spark, sf_dir).limit(80)
    tgt = docs.filter(F.col("lang") == "en")
    lrs = D.fit_dsir_modes(tgt, docs, n_buckets=_B, salt=_SALT)
    uni = D.fit_dsir(tgt, docs, n_buckets=_B, salt=_SALT)
    bi = D.fit_dsir(tgt, docs, n_buckets=_B, salt=_SALT, bigrams=True)
    assert lrs["uni"] == pytest.approx(uni, abs=1e-12)
    assert lrs["bi"] == pytest.approx(bi, abs=1e-12)
    with pytest.raises(ValueError, match="alpha"):
        D.fit_dsir_modes(tgt, docs, n_buckets=8, alpha=0.0)


def test_empty_logratios_rejected(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(5)
    with pytest.raises(ValueError, match="non-empty"):
        D.dsir_score(docs, [])
    with pytest.raises(ValueError, match="non-empty"):
        D.dsir_resample(docs, [], k=2)


def test_score_survives_caller_column_collisions(spark, sf_dir):
    """Round-9 advice: the broadcast scoring vector used the bare name
    'lrv', so a caller frame already carrying 'lrv' made the reference
    ambiguous at analysis. Now dunder-reserved AND referenced via the
    relation handle — a caller column of the same name must neither
    error nor change the scores."""
    docs = _docs(spark, sf_dir).limit(40)
    lrs = D.fit_dsir(docs.limit(10), docs, n_buckets=_B, salt=_SALT)
    base = {r["doc_id"]: r["logw"] for r in D.dsir_score(docs, lrs).collect()}
    for clash in ("lrv", "__lrv"):
        poisoned = docs.withColumn(clash, F.lit([0.0]))
        got = {r["doc_id"]: r["logw"] for r in D.dsir_score(poisoned, lrs).collect()}
        assert got == base, clash


def test_arrow_score_matches_expression_path(spark, sf_dir):
    """The default mapInArrow scoring pass and the arrow=False
    expression fold give EXACTLY equal rows — every double, not just
    the 4-dp rounding — over real docs plus the edge texts (NULL,
    empty, whitespace-only, tab/newline, non-ASCII, one multi-thousand
    token document), with and without bigrams. The plan-level
    difference between the two paths is the 1-row lr-vector broadcast
    join that only the expression path plans."""
    from sgdnet_spark.plans import introspect

    # a varied vector: every bucket a distinct, non-representable-in-
    # decimal double, so any change in summation order shows in the bits
    lr = [math.sin(j + 0.5) * 3.0 for j in range(_B)]
    long_doc = "\n".join(
        " ".join(f"Tok{(i * 7919 + k) % 613}" for k in range(50))
        for i in range(80)
    )  # 4000 tokens, 613-term vocabulary
    edge = spark.createDataFrame(
        [
            (900_000_001, None),
            (900_000_002, ""),
            (900_000_003, "  \t\n "),
            (900_000_004, "\tTabbed\tDoc\nwith  NEWLINES \r\n"),
            (900_000_005, "Café ÜBER naïve café"),
            (900_000_006, "single"),
            (900_000_007, long_doc),
        ],
        "doc_id long, text string",
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text").limit(40)
    frame = docs.unionByName(edge)

    def score(arrow, bigrams):
        # rpos=30 makes the JVM round the identity on every double of
        # magnitude >= 1e-13 (all of these sums), so the raw fold sums
        # themselves are compared, not just their shipped 4-dp form
        return D.dsir_score(frame, lr, salt=_SALT, rpos=30,
                            bigrams=bigrams, arrow=arrow)

    for bigrams in (False, True):
        # plan alone, nothing executed
        assert introspect.broadcast_join_count(score(False, bigrams)) == 1
        assert introspect.broadcast_join_count(score(True, bigrams)) == 0
        got = sorted(tuple(r) for r in score(True, bigrams).collect())
        want = sorted(tuple(r) for r in score(False, bigrams).collect())
        assert got == want, bigrams
        n_tokens = {r[0]: r[1] for r in got}
        assert 900_000_001 not in n_tokens and len(got) == 46
        assert n_tokens[900_000_007] == 4000 + (3999 if bigrams else 0)


def _masked_add_fold(acc, vals, lengths):
    """Reference left fold: one masked add over every segment per
    in-segment position."""
    import numpy as np

    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    for p in range(int(lengths.max()) if len(lengths) else 0):
        m = lengths > p
        acc[m] += vals[starts[m] + p]


def test_segmented_left_fold_is_bit_exact_and_bounded_under_skew():
    """numpy only: the longest-first fold adds in the same order as the
    masked-add reference (bit-equal, zero-length segments included), and
    one 100k-token outlier among 10,000 short docs stays cheap."""
    import time

    import numpy as np

    rng = np.random.default_rng(7)
    for trial in range(20):
        lengths = rng.integers(0, 40, size=rng.integers(1, 60))
        lengths[rng.random(len(lengths)) < 0.2] = 0
        if trial % 4 == 0:
            lengths[rng.integers(len(lengths))] = 500
        vals = rng.normal(size=int(lengths.sum())) * 10.0 ** rng.integers(-8, 8, int(lengths.sum()))
        init = rng.normal(size=len(lengths))
        want, got = init.copy(), init.copy()
        _masked_add_fold(want, vals, lengths)
        D._segmented_left_fold(got, vals, lengths)
        assert np.array_equal(want, got), trial

    lengths = np.full(10_001, 300, dtype=np.int64)
    lengths[5_000] = 100_000
    vals = rng.normal(size=int(lengths.sum()))
    acc = np.zeros(len(lengths))
    t0 = time.perf_counter()
    D._segmented_left_fold(acc, vals, lengths)
    assert time.perf_counter() - t0 < 0.25
    starts = np.concatenate([[0], np.cumsum(lengths[:-1])])
    assert acc[5_000] == np.add.accumulate(vals[starts[5_000]:starts[5_000] + 100_000])[-1]

"""Equivalence pins for the r17 optimization round.

Each r17 optimization restructured how an operator computes while keeping
its values bit-identical (the oracle gate proves end-to-end equality;
these pins name the internal equivalence so a future refactor that breaks
one fails HERE with a named kernel):

  * the winnow sliding-window minimum as a branch-free ``least()`` over
    direct element accesses == ``array_min(slice(...))`` (tail windows
    shorter than W included on both forms),
  * ``bpe_train``'s guarded two-merges-per-job argmax batching == the
    sequential one-argmax-per-round loop (same trajectory), including
    corpora built so naive (guard-less) batching WOULD be wrong, and a
    randomized property test of the batching decision
    (``_second_merge_safe``) against a pure-Python sequential trainer.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup
from espkinesis_spark.functions import text as T


def _sets_equal(a, b) -> bool:
    return a.exceptAll(b).union(b.exceptAll(a)).isEmpty()


def test_winnow_least_form_matches_slice_form(spark):
    """The r17 least()-over-element-accesses window minimum must equal the
    array_min(slice(...)) reference on docs exercising every window shape:
    longer than W, exactly W, shorter than W (degenerate single shingle),
    and duplicate-hash runs (array_distinct interplay)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five"),  # 3 trigrams < W+2
        (3, "tiny doc"),  # degenerate: single sub-3-token shingle
        (4, "rep rep rep rep rep rep rep rep"),  # duplicate hashes
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = dedup.winnow_fingerprints(docs)
    ref = (
        docs.withColumn("__toks", T.tokens(F.col("text")))
        .withColumn(
            "__hs",
            F.expr(
                "transform("
                " transform(sequence(1, greatest(size(__toks) - 2, 1)),"
                f"  i -> concat_ws(' ', slice(__toks, i, {C.SHINGLE_WORDS}))),"
                " g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)"
                f"  % {C.MINHASH_P})"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(__hs)),"
                    f" i -> array_min(slice(__hs, i, {C.WINNOW_W}))))"
                )
            ).alias("fp"),
        )
    )
    assert _sets_equal(new, ref)


def _bpe_train_sequential(docs, merges=C.BPE_MERGES):
    """The pre-r17 one-argmax-per-round reference loop."""
    spark = docs.sparkSession
    wf = T._word_freqs(docs, "text")
    words = T._vocab_layout(
        wf.select(F.split("w", "").alias("s"), "freq").localCheckpoint(eager=True)
    )
    pairs_expr = F.expr(
        "transform(sequence(1, size(s) - 1), i -> struct(s[i-1] AS a, s[i] AS b))"
    )
    trajectory = []
    for rank in range(1, merges + 1):
        best = (
            words.filter(F.size("s") >= 2)
            .select("freq", F.explode(pairs_expr).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["p"]["a"], best[0]["p"]["b"], best[0]["cnt"]
        trajectory.append((rank, a, b, int(cnt)))
        merged = a + b
        apply_merge = F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        if rank < merges:
            words = words.select(apply_merge.alias("s"), "freq")
            if rank % 3 == 0:
                words = words.localCheckpoint(eager=True)
    return trajectory


def _traj(df):
    return [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in df.collect()
    ]


def test_bpe_batched_argmax_matches_sequential(spark, sf_dir):
    """The guarded two-per-job batching must replay the sequential greedy
    trajectory exactly on the real fixture corpus."""
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert _traj(T.bpe_train(docs)) == _bpe_train_sequential(docs)


def test_bpe_guard_refuses_unsafe_batch(spark):
    """A corpus where naive batching WOULD be wrong: pre-merge counts are
    (a,b)=5, (x,a)=4, (q,r)=3, but merging (a,b) consumes every (x,a)
    occurrence into the NEW pair (x,ab)=4 — so round 2's true winner is
    (x,ab), which does not even exist before round 1. (x,a) has right
    element == a (the changed class), so the guard must fall back to
    sequential rounds; the batched trainer must produce the same
    trajectory as the reference loop."""
    rows = (
        [(i, "xab") for i in range(4)]
        + [(100, "ab")]
        + [(200 + i, "qr") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = [(1, "a", "b", 5), (2, "x", "ab", 4), (3, "q", "r", 3)]
    got = _traj(T.bpe_train(docs, merges=3))
    assert got == expected == _bpe_train_sequential(docs, merges=3)


def test_bpe_guard_batches_only_on_strict_separation(spark):
    """A tie directly under the runner-up (cnt(#2) == cnt(#3)) must refuse
    the batch (a new pair bounded by cnt(#3) could tie #2 and win on the
    lexicographic rule); the trajectory must still match sequential."""
    # counts: (a,b)=4; (c,d)=3; (e,f)=3 — #2/#3 tie
    rows = (
        [(i, "ab") for i in range(4)]
        + [(10 + i, "cd") for i in range(3)]
        + [(20 + i, "ef") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _traj(T.bpe_train(docs, merges=3))
    assert got == _bpe_train_sequential(docs, merges=3)
    assert got == [(1, "a", "b", 4), (2, "c", "d", 3), (3, "e", "f", 3)]


def test_bpe_self_pair_refuses_batch(spark):
    """ADVICE r17 counterexample: p1 = (a, a) is a self-pair, so merging
    it creates (aa, a) whose count is bounded only by p1's own count —
    it overtakes the runner-up (c, d) in round 2. Batching must be
    refused and the trajectory must match the sequential loop."""
    rows = [(i, "aaa") for i in range(4)] + [(10 + i, "cd") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _traj(T.bpe_train(docs, merges=2))
    assert got == _bpe_train_sequential(docs, merges=2)
    assert got == [(1, "a", "a", 8), (2, "aa", "a", 4)]


def _py_head(words, k):
    """Top-k (left, right, count) pairs, ranked as bpe_train ranks them."""
    counts = Counter()
    for syms, freq in words:
        for pair in zip(syms, syms[1:]):
            counts[pair] += freq
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(a, b, c) for (a, b), c in ranked[:k]]


def _py_merge(words, a, b):
    """bpe_train's greedy left-to-right merge fold."""
    out = []
    for syms, freq in words:
        acc = []
        for x in syms:
            if acc and acc[-1] == a and x == b:
                acc[-1] = a + b
            else:
                acc.append(x)
        out.append((acc, freq))
    return out


def _py_sequential(words, merges):
    trajectory = []
    for rank in range(1, merges + 1):
        head = _py_head(words, 1)
        if not head:
            break
        a, b, cnt = head[0]
        trajectory.append((rank, a, b, cnt))
        words = _py_merge(words, a, b)
    return trajectory


def _py_batched(words, merges):
    """bpe_train's loop: one ranking per argmax job, two merges from it
    when the engine's _second_merge_safe allows."""
    trajectory, created, rank = [], set(), 1
    while rank <= merges:
        head = _py_head(words, 3)
        if not head:
            break
        batch = rank < merges and T._second_merge_safe(head, created)
        for a, b, cnt in head[:2] if batch else head[:1]:
            trajectory.append((rank, a, b, cnt))
            created.add(a + b)
            rank += 1
            words = _py_merge(words, a, b)
    return trajectory


@st.composite
def _corpora(draw):
    """Word -> frequency over an alphabet of 1-4 letters, each word 1-3
    runs of one letter: repeated letters make self-pairs and re-created
    symbols common, the shapes an unsound guard gets wrong."""
    letters = "abcd"[: draw(st.integers(1, 4))]
    run = st.tuples(st.sampled_from(letters), st.integers(1, 4))
    word = st.lists(run.map(lambda r: r[0] * r[1]), min_size=1, max_size=3)
    return draw(
        st.dictionaries(word.map("".join), st.integers(1, 6), min_size=1, max_size=6)
    )


@settings(max_examples=300, deadline=None, database=None)
@given(corpus=_corpora(), merges=st.integers(1, 6))
def test_bpe_second_merge_guard_matches_sequential_property(corpus, merges):
    """Randomized pin of the batching decision: over small random corpora
    with 1-6 merges, the two-merges-per-job trainer driven by the
    engine's _second_merge_safe replays the sequential greedy trajectory
    exactly."""
    words = [(list(w), f) for w, f in corpus.items()]
    assert _py_batched(words, merges) == _py_sequential(words, merges)

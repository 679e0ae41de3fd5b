"""Unit + invariant tests for operators/curation.py (q122–q125 wave):
repetition stats, decontamination, chunking, corpus-frequency scoring.
Cross-engine value equality is covered by tools/oracle_sweep.py; these
pin the operator semantics on hand-built rows where the expected values
are computable by eye."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.functions import ngrams
from cubicerp_client_etl_spark.operators.curation import (
    chunk_documents,
    decontaminate,
    repetition_stats,
    unigram_freq_score,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_computed(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a"),  # 5 toks, 2 distinct, top 'a'x3, 4 bigrams {ab,ba,ab,ba}
            (2, "x"),  # single token: no bigrams, frac 0
            (3, "z z z z"),  # fully repetitive
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert (r1["n_tokens"], r1["n_distinct"], r1["top_token_count"]) == (5, 2, 3)
    assert (r1["n_bigrams"], r1["n_distinct_bigrams"]) == (4, 2)
    assert r1["dup_token_frac_e6"] == 1_000_000 * 3 // 5
    assert r1["top_token_frac_e6"] == 600_000
    assert r1["dup_bigram_frac_e6"] == 500_000
    r2 = out[2]
    assert (r2["n_tokens"], r2["n_bigrams"], r2["dup_bigram_frac_e6"]) == (1, 0, 0)
    r3 = out[3]
    assert r3["top_token_frac_e6"] == 1_000_000


def test_repetition_dup_bigram_exact(spark):
    df = _docs(spark, [(3, "z z z z")])
    r = repetition_stats(df).collect()[0]
    assert r["n_bigrams"] == 3 and r["n_distinct_bigrams"] == 1
    assert r["dup_bigram_frac_e6"] == 1_000_000 * 2 // 3


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "a b"), (2, "a b c")])
    out = df.select(
        "doc_id", ngrams(F.split("text", " "), 3).alias("sh")
    ).collect()
    got = {r["doc_id"]: r["sh"] for r in out}
    assert got[1] == []
    assert got[2] == ["a b c"]


def test_decontaminate_flags_only_overlap(spark):
    corpus = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely different words here nothing shared at all"),
        ],
    )
    bench = _docs(spark, [(99, "quick brown fox jumps over")])
    out = {r["doc_id"]: r["n_hits"] for r in decontaminate(corpus, bench).collect()}
    assert out == {10: 1}  # exactly one shared 5-gram, doc 11 clean


def test_chunking_covers_every_token_once_per_window(spark):
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(80))), (2, "a b c")])
    out = chunk_documents(df, chunk_size=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 80 tokens → 1 + ceil(48/24) = 3 chunks: [0:32],[24:56],[48:80]
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_tokens"] for r in c1] == [32, 32, 32]
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    # short doc → single ragged chunk
    assert [(r["chunk_idx"], r["chunk_tokens"]) for r in by_doc[2]] == [(0, 3)]


def test_chunking_ragged_tail(spark):
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(40)))])
    out = sorted(
        chunk_documents(df, chunk_size=32, stride=24).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # 40 tokens → chunks [0:32] and [24:40] (16 tokens)
    assert [r["chunk_tokens"] for r in out] == [32, 16]


def test_chunking_rejects_bad_params(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)


def test_unigram_freq_score_hand_computed(spark):
    df = _docs(spark, [(1, "a a b"), (2, "b c")])
    # corpus: a→2, b→2, c→1
    out = {r["doc_id"]: r.asDict() for r in unigram_freq_score(df).collect()}
    assert out[1]["sum_freq"] == 2 + 2 + 2 and out[1]["min_freq"] == 2
    assert out[2]["sum_freq"] == 2 + 1 and out[2]["min_freq"] == 1
    assert out[2]["avg_freq_e0"] == 1  # 3 div 2


def test_repetition_partition_independence(spark):
    """Map-only op: identical output under different partitionings."""
    rows = [(i, " ".join(f"w{j % (1 + i % 7)}" for j in range(20))) for i in range(50)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, repetition_stats(df).collect()))
    b = sorted(map(tuple, repetition_stats(df.repartition(13)).collect()))
    assert a == b


# ---- integer k-means (operators/clustering.py, q126) ----------------------


def test_kmeans_int_separated_clusters(spark):
    from cubicerp_client_etl_spark.operators.clustering import kmeans_int

    # two tight blobs far apart; k=2 seeds land one in each blob
    rows = [(0, [0, 0]), (1, [100, 100]), (2, [1, 0]), (3, [99, 100]),
            (4, [0, 1]), (5, [101, 100])]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    out = {r["vec_id"]: (r["cluster"], r["dist_sq"]) for r in
           kmeans_int(df, k=2, iterations=3, shift=0).collect()}
    assert {out[0][0], out[2][0], out[4][0]} == {0}
    assert {out[1][0], out[3][0], out[5][0]} == {1}
    # centroid of blob 0 after convergence is (0,0) (mean 1/3 truncates to 0)
    assert out[0][1] == 0  # vector (0,0) sits on its centroid


def test_kmeans_int_zero_iterations_is_seed_assignment(spark):
    from cubicerp_client_etl_spark.operators.clustering import kmeans_int

    rows = [(0, [0]), (1, [10]), (2, [6])]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    out = {r["vec_id"]: r["cluster"] for r in
           kmeans_int(df, k=2, iterations=0, shift=0).collect()}
    # seeds: c0=[0], c1=[10]; vec 2 (=6) is nearer c1
    assert out == {0: 0, 1: 1, 2: 1}


def test_kmeans_int_partition_independence(spark):
    from cubicerp_client_etl_spark.operators.clustering import kmeans_int

    rows = [(i, [(i * 7) % 50, (i * 13) % 50]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    a = sorted(map(tuple, kmeans_int(df, k=3, iterations=2, shift=0).collect()))
    b = sorted(map(tuple,
                   kmeans_int(df.repartition(11), k=3, iterations=2, shift=0).collect()))
    assert a == b


def test_kmeans_int_rejects_small_input(spark):
    from cubicerp_client_etl_spark.operators.clustering import kmeans_int

    df = spark.createDataFrame([(0, [1])], "vec_id long, qv array<long>")
    with pytest.raises(ValueError):
        kmeans_int(df, k=5, iterations=1)


def test_compression_ratio_pinned_values(spark):
    import zlib

    from cubicerp_client_etl_spark.operators.curation import compression_ratio

    texts = {1: "a" * 100, 2: "the quick brown fox", 3: ""}
    df = _docs(spark, list(texts.items()))
    out = {r["doc_id"]: r.asDict() for r in compression_ratio(df).collect()}
    for i, t in texts.items():
        raw = t.encode()
        assert out[i]["raw_len"] == len(raw)
        assert out[i]["zlib_len"] == len(zlib.compress(raw, 6))
    assert out[3]["ratio_e6"] == 0  # empty text guarded
    assert out[1]["ratio_e6"] == 1_000_000 * out[1]["zlib_len"] // 100
    # 'aaaa…' compresses far better than English text
    assert out[1]["ratio_e6"] < out[2]["ratio_e6"]


def test_compression_ratio_is_arrow_batched(spark):
    from cubicerp_client_etl_spark.operators.curation import compression_ratio

    df = _docs(spark, [(1, "hello world")])
    plan = (
        compression_ratio(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan  # Arrow batch path, not row-at-a-time


def test_repetition_simpson_diversity_exact(spark):
    df = _docs(spark, [(1, "a b a b a"), (2, "z z z z")])
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    # doc 1: counts a=3,b=2 → Σc²=13, n²=25 → (25-13)/25 = 0.48
    assert out[1]["sum_sq_counts"] == 13
    assert out[1]["simpson_div_e6"] == 1_000_000 * 12 // 25
    # doc 2: single token dominates completely → diversity 0
    assert out[2]["sum_sq_counts"] == 16
    assert out[2]["simpson_div_e6"] == 0


# ---- property tests (hypothesis) ------------------------------------------


def test_chunking_properties_randomized(spark):
    """Chunk invariants over randomized doc lengths: chunk count
    formula, full coverage (every token in >=1 chunk), stride spacing,
    ragged tail only at the end."""
    import random

    rng = random.Random(42)
    lengths = [rng.randint(1, 200) for _ in range(30)]
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(lengths)]
    df = _docs(spark, rows)
    C, S = 32, 24
    out = {}
    for r in chunk_documents(df, chunk_size=C, stride=S).collect():
        out.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_tokens"]))
    for i, n in enumerate(lengths):
        chunks = sorted(out[i])
        want = 1 if n <= C else 1 + -(-(n - C) // S)
        assert len(chunks) == want, (n, chunks)
        # coverage: last chunk must reach token n
        last_idx, last_len = chunks[-1]
        assert last_idx * S + last_len == n
        # all but last are full C (when n > C)
        for idx, ln in chunks[:-1]:
            assert ln == C


def test_shingle_count_property(spark):
    import random

    rng = random.Random(7)
    lengths = [rng.randint(1, 40) for _ in range(20)]
    rows = [(i, " ".join(f"x{j}" for j in range(n))) for i, n in enumerate(lengths)]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(ngrams(F.split("text", " "), 5)).alias("n")
        ).collect()
    }
    for i, n in enumerate(lengths):
        assert got[i] == (n - 4 if n >= 5 else 0)


def test_compression_ratio_preserves_id_type(spark):
    """ADVICE r2: the output schema derives the id type from the input
    instead of hardcoding long — string ids must round-trip."""
    from cubicerp_client_etl_spark.operators.curation import compression_ratio

    df = spark.createDataFrame(
        [("a", "x y x y x y"), ("b", "unique words only here")],
        "doc_id string, text string",
    )
    out = compression_ratio(df)
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = {r["doc_id"]: r["ratio_e6"] for r in out.collect()}
    assert set(rows) == {"a", "b"} and all(v > 0 for v in rows.values())


def test_bigram_fluency_reference(spark):
    """Hand-computed bigram conditional scores on a 3-doc corpus."""
    from cubicerp_client_etl_spark.operators.curation import (
        bigram_fluency_score,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c"),      # bigrams: (a,b), (b,c)
            (2, "a b a b"),    # bigrams: (a,b), (b,a), (a,b)
            (3, "x"),          # no bigram -> absent from output
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_fluency_score(df).collect()}
    # heads: a->3 (a,b)x3 ; b->2 ((b,c),(b,a))
    # P(b|a)=3/3=1e6 ; P(c|b)=1/2=500000 ; P(a|b)=1/2=500000
    assert set(out) == {1, 2}
    d1, d2 = out[1], out[2]
    assert (d1.n_bigrams, d1.sum_p_e6, d1.min_p_e6, d1.avg_p_e6) == (
        2, 1_500_000, 500_000, 750_000)
    assert (d2.n_bigrams, d2.sum_p_e6, d2.min_p_e6, d2.avg_p_e6) == (
        3, 2_500_000, 500_000, 833_333)


def test_nfc_normalize_col_collapses_equivalent_forms(spark):
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators.text import nfc_normalize_col

    df = spark.createDataFrame(
        [(1, "àb"), (2, "àb"), (3, None), (4, "plain")],
        "id long, t string",
    )
    out = {r.id: r.n for r in df.select("id", nfc_normalize_col("t").alias("n")).collect()}
    assert out[1] == out[2] == "àb"  # decomposed == composed after NFC
    assert out[3] is None and out[4] == "plain"


def test_strip_html_drops_script_content_and_decodes_entities(spark):
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators.text import strip_html

    html = (
        '<html><head><script a="b">var secret = 1;</script>'
        "<style>p{color:red}</style></head>"
        "<body><p>Hello &amp; welcome</p><b>x &lt; y</b>"
        "<p>literal &amp;lt; stays</p></body></html>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    out = df.select(strip_html("h").alias("t")).collect()[0].t
    assert out == "Hello & welcome x < y literal &lt; stays"
    assert "secret" not in out and "color" not in out


def test_canonical_url_collapses_variants(spark):
    from cubicerp_client_etl_spark.operators.text import canonical_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/B/?utm_s=1&b=2&a=1#f",
         "http://www.ex.com/A/B?a=1&b=2"),
        ("https://Host.Org:443/", "https://host.org/"),
        ("https://host.org", "https://host.org/"),
        ("http://h.io/p?utm_a=1", "http://h.io/p"),
        ("http://h.io:8080/p", "http://h.io:8080/p"),  # non-default port kept
        # a second '?' is PART of the query (after-first-'?' split) —
        # pinned because substring_index(tail,'?',-1) would keep only 'c=3'
        ("http://h.io/p?b=2?x&a=1", "http://h.io/p?a=1&b=2?x"),
    ]
    df = spark.createDataFrame(cases, "u string, want string")
    for r in df.select(canonical_url("u").alias("c"), "want").collect():
        assert r.c == r.want, (r.c, r.want)

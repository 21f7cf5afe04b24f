"""Text-analysis ops vs DuckDB oracles on the documents table."""

import duckdb
import pandas as pd
import pytest

from protosc_spark.textops import (
    FP_BASE,
    FP_MOD,
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    return con.execute(sql).df()


def test_token_stats_vs_duckdb(docs):
    got = token_stats(docs).orderBy("doc_id").toPandas()
    want = _duck(
        """
        SELECT doc_id,
               length(text)::BIGINT AS n_chars_text,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq_tokens,
               round((length(text) - (len(string_split(text,' ')) - 1))
                     / len(string_split(text,' '))::DOUBLE, 4) AS avg_token_len,
               length(regexp_replace(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t]',
                                     'X', 'g'))::BIGINT AS n_bpe_ish_tokens
        FROM documents ORDER BY doc_id
        """
    )
    # n_bpe_ish oracle trick: replace each match with one char, count = length
    # of fully-replaced string minus untouched whitespace chars
    want["n_bpe_ish_tokens"] = _duck(
        """
        SELECT len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT v
        FROM documents ORDER BY doc_id
        """
    )["v"]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_quality_vs_duckdb(docs):
    got = quality_score(docs).orderBy("doc_id").toPandas()
    stop_list = ",".join(f"'{s}'" for s in STOPWORDS)
    want = _duck(
        f"""
        WITH t AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks,
                 len(string_split(text, ' '))::DOUBLE AS n_tok,
                 length(text)::DOUBLE AS n_chars
          FROM documents
        )
        SELECT doc_id,
               round(len(list_filter(toks, x -> lower(x) IN ({stop_list}))) / n_tok, 4)
                 AS stopword_ratio,
               round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / n_chars, 4)
                 AS punct_ratio,
               round(len(regexp_extract_all(text, '[0-9]')) / n_chars, 4)
                 AS digit_ratio,
               round(len(list_filter(toks, x -> lower(x) IN ({stop_list}))) / n_tok
                     - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / n_chars
                     - len(regexp_extract_all(text, '[0-9]')) / n_chars
                     + least(n_tok, 50) / 100, 4) AS quality
        FROM t ORDER BY doc_id
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_language_id_vs_duckdb(docs):
    got = language_id(docs).orderBy("doc_id").toPandas()
    hit_exprs = {
        lg: f"len(list_filter(string_split(text,' '), x -> lower(x) IN "
        f"({','.join(repr(m) for m in ms)})))"
        for lg, ms in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    best = f"greatest({', '.join(hit_exprs[lg] for lg in langs)})"
    case = "'und'"
    for lg in reversed(langs):
        case = (
            f"CASE WHEN {hit_exprs[lg]} = {best} AND {best} > 0 "
            f"THEN '{lg}' ELSE {case} END"
        )
    want = _duck(
        f"""
        SELECT doc_id, {case} AS lang_pred,
               {', '.join(f"{hit_exprs[lg]}::BIGINT AS hits_{lg}" for lg in langs)}
        FROM documents ORDER BY doc_id
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fingerprint_vs_duckdb(docs):
    got = fingerprint(docs).orderBy("doc_id").toPandas()
    want = _duck(
        f"""
        SELECT doc_id,
          list_reduce(
            list_prepend(0::BIGINT,
              list_transform(string_split(text, ' '),
                t -> list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform(string_split_regex(t, ''),
                                        c -> ascii(c)::BIGINT)),
                       (acc, ch) -> (acc * 31 + ch) % {FP_MOD}))),
            (acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD}
          ) AS fingerprint
        FROM documents ORDER BY doc_id
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "c b a"]})
    )
    fps = fingerprint(df).toPandas()["fingerprint"]
    assert fps[0] != fps[1]


def test_text_batch_udf_matches_per_row_reference():
    """The fused char_hist ++ hashed_ngram pandas UDF equals a plain
    per-row reference: np.histogram density of token lengths (all
    zeros for a row without tokens), then crc32 % 16 counts over
    unigrams and bigrams, L1-normalised. Tokens are split on single
    spaces, so a double space yields an empty token."""
    import zlib

    import numpy as np

    from protosc_spark.features.text import _text_batch_udf

    texts = [
        "hello world",
        "",
        None,
        "a  b",
        "héllo wörld 日本語 ok",
        "one",
        "abcdefghij xy",
    ]

    def ref(text):
        toks = text.split(" ") if text else []
        lens = [len(t) for t in toks]
        hist = (
            np.histogram(lens, 8, (0, 8), density=True)[0]
            if toks
            else np.zeros(8)
        )
        grams = toks + [a + " " + b for a, b in zip(toks, toks[1:])]
        counts = np.zeros(16)
        for g in grams:
            counts[zlib.crc32(g.encode("utf-8")) % 16] += 1
        if grams:
            counts /= counts.sum()
        return np.concatenate([hist, counts])

    got = np.array(list(_text_batch_udf.func(pd.Series(texts))))
    want = np.array([ref(t) for t in texts])
    assert got.shape == (len(texts), 24)
    assert np.array_equal(got, want)


def test_repetition_stats_hand_cases(spark):
    from protosc_spark.textops import repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "a a a a",                 # total repetition
                "w x y z",                 # none
                "p p q r q",               # one adjacent dup, top=2/5
            ],
        }
    )
    got = (
        repetition_stats(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()
    )
    assert got.loc[0, "dup_token_frac"] == 0.75
    assert got.loc[0, "top_token_frac"] == 1.0
    assert got.loc[0, "dup_bigram_frac"] == 1.0
    assert got.loc[1, "dup_token_frac"] == 0.0
    assert got.loc[1, "dup_bigram_frac"] == 0.0
    assert got.loc[2, "top_token_frac"] == 0.4
    assert got.loc[2, "dup_bigram_frac"] == 0.25


def test_pii_scrub_hand_cases(spark):
    from protosc_spark.textops import pii_scrub

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "mail me at jo.doe+x@sub.example.org now",
                "server 192.168.100.7 acct 123456789 pin 123",
                "nothing sensitive here",
            ],
        }
    )
    got = pii_scrub(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert got.loc[0, "clean_text"] == "mail me at <EMAIL> now"
    assert got.loc[0, "n_redactions"] == 1
    # IP first, then the long digit run; 3-digit pin untouched
    assert got.loc[1, "clean_text"] == "server <IP> acct <NUM> pin 123"
    assert got.loc[1, "n_redactions"] == 2
    assert got.loc[2, "clean_text"] == "nothing sensitive here"
    assert got.loc[2, "n_redactions"] == 0


def test_gopher_rules_hand_cases(spark):
    from protosc_spark.textops import gopher_rules

    long_good = " ".join(["the", "and"] + ["table"] * 10)  # 12 toks, stopwords
    too_short = "the and table"
    no_alpha = " ".join(["123"] * 12 + ["the", "a"])
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [long_good, too_short, no_alpha],
        }
    )
    got = gopher_rules(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert got.loc[0, "keep"] == 1
    assert got.loc[1, "keep"] == 0  # under 10 tokens
    assert got.loc[2, "keep"] == 0  # alpha fraction 2/14 < 0.8
    assert got.loc[0, "n_stopwords"] == 2


def test_repetition_stats_bounded_on_high_entropy_100k_doc(spark):
    """The sort-based top-token kernel must stay linear-ish: a mostly-
    unique 100k-token document (the Gopher token cap) is the worst case
    for the naive O(n_uniq * n) rescan (~10^10 comparisons in ONE row,
    a straggler-maker at corpus scale) but ~n log n here."""
    import time

    from protosc_spark.textops import repetition_stats

    n = 100_000
    # high-entropy: all tokens distinct except one planted 7x repeat
    toks = [f"t{i}" for i in range(n - 6)] + ["dup"] * 7
    pdf = pd.DataFrame({"doc_id": [0], "text": [" ".join(toks)]})
    df = spark.createDataFrame(pdf)
    t0 = time.time()
    got = repetition_stats(df).collect()[0]
    wall = time.time() - t0
    n_tot = n + 1  # n-6 uniques + 7 dups
    assert got.top_token_frac == round(7 / n_tot, 4)
    assert got.dup_token_frac == round(1 - (n - 5) / n_tot, 4)
    assert wall < 60, f"repetition_stats took {wall:.1f}s on a 100k-token doc"


def test_vocab_with_idf_vs_duckdb(docs):
    from protosc_spark.textops import vocab_with_idf

    got = (
        vocab_with_idf(docs, min_df=2).orderBy("token").toPandas()
    )
    want = _duck(
        """
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                 AS token
          FROM documents
        ), cnt AS (
          SELECT token, count(*)::BIGINT AS df FROM tok
          GROUP BY token HAVING count(*) >= 2
        )
        SELECT token, df,
               round(ln((1.0 + (SELECT count(*) FROM documents))
                        / (1.0 + df)) + 1.0, 6) AS idf
        FROM cnt ORDER BY token
        """
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)


def test_vocab_df_counts_docs_not_occurrences(spark):
    """A token repeated inside one doc contributes df=1."""
    from protosc_spark.textops import vocab_with_idf

    df = spark.createDataFrame(
        [(0, "x x x y"), (1, "x z")], "doc_id long, text string"
    )
    rows = {r["token"]: r["df"] for r in vocab_with_idf(df).collect()}
    assert rows == {"x": 2, "y": 1, "z": 1}


def test_tfidf_topk_vs_duckdb(docs):
    from protosc_spark.textops import tfidf_topk

    eng = sorted(map(tuple, tfidf_topk(docs, k=3, min_df=2).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    oracle = con.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text,' ')) AS token
          FROM documents
        ), tf AS (
          SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        ), dtok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text,' ')))
                 AS token
          FROM documents
        ), idf AS (
          SELECT token,
                 round(ln((1.0 + (SELECT count(*) FROM documents))
                          / (1.0 + count(*))) + 1.0, 6) AS idf
          FROM dtok GROUP BY token HAVING count(*) >= 2
        ), ranked AS (
          SELECT doc_id, token, tf, tf * idf AS score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tf * idf DESC, token) AS rnk
          FROM tf JOIN idf USING (token)
        )
        SELECT doc_id, rnk, token, tf, round(score, 6) AS tfidf
        FROM ranked WHERE rnk <= 3
    """).fetchall()
    assert eng == sorted(oracle)


def test_tfidf_topk_deterministic_ties(spark):
    """Equal scores break by token ascending; rarer terms outrank
    common ones at equal tf."""
    from protosc_spark.textops import tfidf_topk

    rows = [
        (0, "zz aa zz aa common"),   # aa and zz tie at tf=2
        (1, "common rare"),
        (2, "common rare"),
        (3, "common other"),
        (4, "aa zz filler"),         # gives aa/zz df=2 so min_df keeps them
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk(df, k=2, min_df=2).toPandas()
    d0 = out[out.doc_id == 0].sort_values("rnk")
    assert list(d0.token) == ["aa", "zz"]  # tie -> lexicographic
    d1 = out[out.doc_id == 1].sort_values("rnk")
    # rare (df=2) outranks common (df=4) at equal tf
    assert list(d1.token) == ["rare", "common"]


def test_chunk_documents_hand_fixture(spark):
    from protosc_spark.textops import chunk_documents

    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    # disjoint: 4+4+2
    out = sorted(
        map(tuple, chunk_documents(df, chunk_tokens=4).collect())
    )
    assert out == [
        (0, 0, 4, "a b c d"),
        (0, 1, 4, "e f g h"),
        (0, 2, 2, "i j"),
    ]
    # sliding: stride 2, window 4 — generation stops once a window
    # reaches the end (standard rule): no degenerate trailing "i j"
    # fully contained in "g h i j"
    out2 = sorted(
        map(tuple, chunk_documents(df, chunk_tokens=4, stride=2).collect())
    )
    assert [r[3] for r in out2] == [
        "a b c d", "c d e f", "e f g h", "g h i j",
    ]
    # short doc (n < chunk_tokens): exactly one (short) window
    short = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert [
        tuple(r)
        for r in chunk_documents(short, chunk_tokens=4, stride=2).collect()
    ] == [(0, 0, 2, "a b")]
    # tail not on a stride boundary: last window covers it, short
    df7 = spark.createDataFrame(
        [(0, "a b c d e f g")], "doc_id long, text string"
    )
    assert [
        r["chunk_text"]
        for r in chunk_documents(df7, chunk_tokens=4, stride=3)
        .orderBy("chunk_idx")
        .collect()
    ] == ["a b c d", "d e f g"]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, stride=5)


def test_chunk_documents_covers_every_token(docs):
    """Disjoint chunking partitions each doc exactly: chunk sizes sum
    to n_tokens and concatenating chunks restores the text."""
    from pyspark.sql import functions as F
    from protosc_spark.textops import chunk_documents

    chunks = chunk_documents(docs, chunk_tokens=16)
    re = (
        chunks.groupBy("doc_id")
        .agg(
            F.sum("n_chunk_tokens").alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("re_text"),
        )
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    bad = re.where(
        (F.col("re_text") != F.col("text"))
        | (F.col("n") != F.size(F.split("text", " ")))
    )
    assert bad.count() == 0


def test_pack_sequences_hand_fixture(spark):
    from protosc_spark.textops import pack_sequences

    df = spark.createDataFrame(
        [
            (0, "a b c"),          # 3 tokens, starts at 0  -> bin 0 off 0
            (1, "a b c d"),        # 4 tokens, starts at 3  -> bin 0 off 3
            (2, "a b c d e"),      # 5 tokens, starts at 7  -> bin 1 off 1
        ],
        "doc_id long, text string",
    )
    out = sorted(map(tuple, pack_sequences(df, target_tokens=6).collect()))
    assert out == [(0, 3, 0, 0), (1, 4, 0, 3), (2, 5, 1, 1)]


def test_pack_sequences_two_phase_equals_global_cumsum(docs):
    """The bucketed two-phase prefix sum must equal a plain global
    cumsum (pandas oracle), for a bucket width that forces many
    buckets AND for one that degenerates to a single bucket."""
    import pandas as pd
    from protosc_spark.textops import pack_sequences

    pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    n = pdf["text"].str.split(" ").str.len().to_numpy()
    before = n.cumsum() - n
    want = sorted(
        zip(pdf["doc_id"], n, before // 100, before % 100)
    )
    for bw in (7, 10**9):
        got = sorted(
            map(tuple, pack_sequences(docs, 100, bucket_width=bw).collect())
        )
        assert got == [tuple(int(v) for v in r) for r in want], bw


def test_top_ngrams_hand_fixture(spark):
    from protosc_spark.textops import top_ngrams

    rows = [
        (0, "a b a b c"),     # bigrams: 'a b' x2, 'b a', 'b c'
        (1, "a b"),           # 'a b'
        (2, "x"),             # too short -> no bigrams (not [1,0] descend)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in top_ngrams(df, n=2, k=3).collect()]
    assert out == [(1, "a b", 3), (2, "b a", 1), (3, "b c", 1)]


def test_pmi_collocations_hand_fixture(spark):
    """'x y' always adjacent (high PMI) vs 'a b' common but
    independent tokens; short docs produce no pairs."""
    from protosc_spark.textops import pmi_collocations
    import math

    rows = (
        [(i, "x y filler%d pad%d" % (i, i)) for i in range(5)]
        + [(100 + i, "a c%d b d%d" % (i, i)) for i in range(5)]
        + [(200, "solo")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, window=2, min_count=5, k=5).toPandas()
    # only pairs occurring >= 5 times survive: ('x','y') adjacent x5
    # and ('a','b') at offset 2 x5
    got = {(r.tok_a, r.tok_b): (r.c_ab, r.pmi) for r in out.itertuples()}
    assert set(got) == {("x", "y"), ("a", "b")}
    # exact PMI: T_tok = 10 docs x 4 tokens + 1 = 41,
    # T_pairs = 5*(3+2) + 5*(3+2) + 0 = 50
    t_tok, t_pairs = 41.0, 50.0
    for pair, (ca, cb) in {("x", "y"): (5, 5), ("a", "b"): (5, 5)}.items():
        want = math.log((5 / t_pairs) / ((ca / t_tok) * (cb / t_tok)))
        assert abs(got[pair][1] - round(want, 6)) < 1e-9
    assert got[("x", "y")][0] == 5


# --- BM25 top-k retrieval ---


def test_bm25_topk_hand_computed(spark):
    """Tiny corpus with hand-derivable BM25 scores (Lucene idf)."""
    import math

    rows = [
        (0, "apple banana apple"),
        (1, "apple cherry"),
        (2, "banana banana banana durian"),
        (3, "cherry durian elderberry"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from protosc_spark.textops import bm25_topk

    got = (
        bm25_topk(df, [(0, "apple banana")], k=4)
        .orderBy("rnk")
        .toPandas()
    )
    # N=4, avgdl = (3+2+4+3)/4 = 3.0
    # df(apple)=2, df(banana)=2 -> idf = round(ln(1+(4-2+.5)/(2+.5)),6)
    n, avgdl, k1, b = 4, 3.0, 1.2, 0.75
    idf = round(math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5)), 6)

    def term(tf, dl):
        return idf * (tf * (k1 + 1.0)) / (
            tf + k1 * ((1.0 - b) + b * dl / avgdl)
        )

    want = {
        0: term(2, 3) + term(1, 3),  # apple tf=2, banana tf=1
        1: term(1, 2),               # apple tf=1
        2: term(3, 4),               # banana tf=3
    }
    assert list(got["doc_id"]) == sorted(
        want, key=lambda d: (-round(want[d], 9), d)
    )
    for _, r in got.iterrows():
        assert abs(r["bm25"] - round(want[r["doc_id"]], 6)) < 1e-6


def test_bm25_topk_tie_break_and_bucket_invariance(spark):
    """Identical docs tie -> doc_id ascending; the two-phase bucketed
    top-k must equal a degenerate single-bucket run exactly."""
    rows = [(i, "same text here") for i in range(8)] + [
        (8, "other words entirely"),
        (9, "same other"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from protosc_spark.textops import bm25_topk

    queries = [(0, "same"), (1, "other")]
    a = (
        bm25_topk(df, queries, k=5, bucket_factor=32)
        .orderBy("qid", "rnk")
        .toPandas()
    )
    b_ = (
        bm25_topk(df, queries, k=5, bucket_factor=1)
        .orderBy("qid", "rnk")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b_)
    # doc 9 is shorter (dl=2 < avgdl) so BM25 length normalization
    # ranks it first; the 8 identical docs tie and must order by
    # doc_id ascending after it.
    q0 = a[a["qid"] == 0]
    assert list(q0["doc_id"])[:5] == [9, 0, 1, 2, 3]


def test_bm25_topk_vs_duckdb(docs):
    from protosc_spark.textops import bm25_topk

    queries = [(0, "spark window join"), (1, "fast table scan")]
    got = (
        bm25_topk(docs, queries, k=5)
        .orderBy("qid", "rnk")
        .toPandas()
    )
    want = _duck(
        """
        WITH q(qid, qtext) AS (VALUES
          (0, 'spark window join'), (1, 'fast table scan')
        ), qt AS (
          SELECT qid::BIGINT AS qid,
                 unnest(list_distinct(string_split(qtext, ' '))) AS token
          FROM q
        ), base AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), stats AS (
          SELECT count(*)::BIGINT AS n_docs, avg(len(toks)) AS avgdl
          FROM base
        ), tok AS (
          SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS token
          FROM base
        ), tf AS (
          SELECT doc_id, dl, token, count(*)::BIGINT AS tf
          FROM tok WHERE token IN (SELECT token FROM qt)
          GROUP BY 1, 2, 3
        ), tfdf AS (
          SELECT *, count(*) OVER (PARTITION BY token)::BIGINT AS dfreq
          FROM tf
        ), scored AS (
          SELECT qid, doc_id,
                 round(ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)), 6)
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
                   AS contrib
          FROM tfdf JOIN qt USING (token) CROSS JOIN stats
        ), agg AS (
          SELECT qid, doc_id, sum(contrib) AS score
          FROM scored GROUP BY 1, 2
        ), ranked AS (
          SELECT qid, doc_id, score,
                 row_number() OVER (
                   PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id
                 ) AS rnk
          FROM agg
        )
        SELECT qid, rnk, doc_id, round(score, 6) AS bm25
        FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk
        """
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        want.reset_index(drop=True),
        check_dtype=False,
        atol=1e-6,
    )


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def test_rrf_matches_rownumber_ranking(spark):
    """Histogram+tie-window rank construction must equal plain
    ROW_NUMBER semantics (score DESC NULLS LAST, id ASC) — incl.
    ties and NULLs — and the fused score must be the fixed-order
    reciprocal sum."""
    from protosc_spark.textops import rrf_fuse

    rows = [
        (1, 10, 5), (2, 10, None), (3, 7, 5), (4, None, 9),
        (5, 7, 5), (6, 20, 1), (7, None, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, s1 int, s2 int")
    got = {
        r.doc_id: (r.rank_s1, r.rank_s2, r.rrf)
        for r in rrf_fuse(df, ["s1", "s2"]).collect()
    }

    def ranks(idx):
        order = sorted(
            rows,
            key=lambda r: (r[idx] is None, -(r[idx] or 0), r[0]),
        )
        return {r[0]: i + 1 for i, r in enumerate(order)}

    r1, r2 = ranks(1), ranks(2)
    assert len(got) == len(rows)
    for did, (g1, g2, rrf) in got.items():
        assert (g1, g2) == (r1[did], r2[did])
        assert rrf == 1.0 / (60 + g1) + 1.0 / (60 + g2)


def test_rrf_single_column_and_k(spark):
    from protosc_spark.textops import rrf_fuse

    df = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 2)], "doc_id bigint, s int"
    )
    got = {
        r.doc_id: (r.rank_s, r.rrf)
        for r in rrf_fuse(df, ["s"], k=10).collect()
    }
    assert got == {
        1: (1, 1.0 / 11), 3: (2, 1.0 / 12), 2: (3, 1.0 / 13)
    }


def test_rrf_empty_score_cols_raises(spark):
    import pytest

    from protosc_spark.textops import rrf_fuse

    df = spark.createDataFrame([(1,)], "doc_id bigint")
    with pytest.raises(ValueError):
        rrf_fuse(df, [])


# --- Dunning log-likelihood keyness ---


def _llr_bruteforce(focus_texts, rest_texts, k=25):
    import math
    from collections import Counter

    ca = Counter(t for s in focus_texts for t in s.split(" "))
    cb = Counter(t for s in rest_texts for t in s.split(" "))
    ta, tb = sum(ca.values()), sum(cb.values())
    out = []
    for tok in set(ca) | set(cb):
        a, b = ca[tok], cb[tok]
        ea = (a + b) * ta / (ta + tb)
        eb = (a + b) * tb / (ta + tb)
        g2 = 2 * ((a * math.log(a / ea) if a else 0.0)
                  + (b * math.log(b / eb) if b else 0.0))
        out.append((tok, a, b, g2, 1 if a * tb > b * ta else -1))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:k]


def test_keyness_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from protosc_spark.textops import keyness_llr

    focus = ["spark shuffle join spark", "join broadcast spark",
             "skew salt spark shuffle"]
    rest = ["pandas loop python", "python loop loop pandas",
            "join python pandas", "numpy loop"]
    df = spark.createDataFrame(
        [(t, True) for t in focus] + [(t, False) for t in rest],
        "text string, f boolean",
    )
    got = keyness_llr(df, F.col("f"), k=25).collect()
    want = _llr_bruteforce(focus, rest)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g.token, g.n_focus, g.n_rest, g.direction) == (
            w[0], w[1], w[2], w[4]
        )
        assert abs(g.llr - w[3]) < 1e-9
    # 'spark' is focus-only and frequent -> top keyness, direction +1
    assert got[0].token == "spark" and got[0].direction == 1


def test_keyness_balanced_token_zero_and_null_rows(spark):
    from pyspark.sql import functions as F

    from protosc_spark.textops import keyness_llr

    # 'x' appears with identical rates on both sides -> llr exactly 0
    df = spark.createDataFrame(
        [("x y", True), ("x z", False)], "text string, f boolean"
    )
    got = {r.token: r for r in keyness_llr(df, F.col("f")).collect()}
    assert abs(got["x"].llr) < 1e-12
    # NULL text / NULL flag rows are dropped, not crash
    df2 = spark.createDataFrame(
        [("a b", True), (None, True), ("a", None)],
        "text string, f boolean",
    )
    got2 = {r.token: r for r in keyness_llr(df2, F.col("f")).collect()}
    assert got2["a"].n_focus == 1 and got2["a"].n_rest == 0


# --- Zipf rank-frequency fit ---


def _zipf_bruteforce(counts, top_k=100):
    import math

    pts = sorted(counts, reverse=True)[:top_k]
    xs = [math.log(i + 1) for i in range(len(pts))]
    ys = [math.log(c) for c in pts]
    m = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    cov = m * sxy - sx * sy
    vx = m * sxx - sx * sx
    vy = m * syy - sy * sy
    slope = cov / vx
    return slope, (sy - slope * sx) / m, cov * cov / (vx * vy)


def test_zipf_planted_harmonic_corpus(spark):
    from protosc_spark.textops import zipf_fit

    # token w_r appears floor(600/r) times -> freq ~ 1/rank:
    # slope ~ -1 with near-perfect fit
    counts = [600 // r for r in range(1, 41)]
    words = []
    for r, c in enumerate(counts, start=1):
        words += [f"w{r:02d}"] * c
    # deterministic interleave so counts don't depend on order anyway
    text = " ".join(words)
    df = spark.createDataFrame([("s", text)], "source string, text string")
    r = zipf_fit(df, "source", top_k=100).collect()[0]
    slope, intercept, r2 = _zipf_bruteforce(counts)
    assert (r.vocab, r.m) == (40, 40)
    assert abs(r.slope - slope) < 1e-6
    assert abs(r.intercept - intercept) < 1e-6
    assert abs(r.r2 - r2) < 1e-6
    assert -1.05 < r.slope < -0.95 and r.r2 > 0.99


def test_zipf_topk_cut_ties_and_degenerate(spark):
    from protosc_spark.textops import zipf_fit

    # 6 distinct tokens, top_k=4 cuts the tail; ties broken by token
    df = spark.createDataFrame(
        [("s", "a a a b b c c d e f")], "source string, text string"
    )
    r = zipf_fit(df, "source", top_k=4).collect()[0]
    slope, intercept, r2 = _zipf_bruteforce([3, 2, 2, 1], top_k=4)
    assert (r.vocab, r.m) == (6, 4)
    assert abs(r.slope - slope) < 1e-6 and abs(r.r2 - r2) < 1e-6
    # single distinct token: vx = 0 -> NULL fit
    one = spark.createDataFrame(
        [("s", "x x x")], "source string, text string"
    )
    r1 = zipf_fit(one, "source").collect()[0]
    assert (r1.vocab, r1.m) == (1, 1)
    assert r1.slope is None and r1.r2 is None


# --- Heaps' law vocabulary growth ---


def _heaps_bruteforce(docs, k=8):
    """docs: {id: token list}. Replays checkpoints + quantize-free
    fit (the quantization error is ~1e-9, checked loosely)."""
    import math

    ids = sorted(docs)
    lo, hi = ids[0], ids[-1]
    cks = sorted({lo + -(-(hi - lo) * j // k) for j in range(1, k + 1)})
    pts = []
    for c in cks:
        n = sum(len(t) for i, t in docs.items() if i <= c)
        first = {}
        for i in ids:
            for t in docs[i]:
                first.setdefault(t, i)
        v = sum(1 for f in first.values() if f <= c)
        if n > 0:
            pts.append((math.log(n), math.log(v)))
    m = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    cov = m * sxy - sx * sy
    vx = m * sxx - sx * sx
    beta = cov / vx
    return beta, (sy - beta * sx) / m


def test_heaps_planted_power_law(spark):
    from protosc_spark.textops import heaps_fit

    # doc i contributes tokens so that V(N) ~ N^0.5: doc i holds
    # 2i+1 tokens of which the last ~sqrt window are new words
    docs = {}
    wid = 0
    for i in range(1, 65):
        toks = []
        n_new = max(1, int((i + 1) ** 0.5 - i**0.5 + 1))
        for _ in range(n_new):
            toks.append(f"w{wid}")
            wid += 1
        while len(toks) < 5:
            toks.append(f"w{(wid * 7) % max(wid, 1)}")
        docs[i] = toks
    rows = [(i, " ".join(t)) for i, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_fit(df).collect()[0]
    beta, log_k = _heaps_bruteforce(docs)
    assert r.n_docs == 64 and r.vocab == wid
    assert abs(r.beta - beta) < 1e-6
    assert abs(r.log_k - log_k) < 1e-6
    assert 0 < r.beta < 1  # sublinear growth, the Heaps regime
    assert r.r2 > 0.9


def test_heaps_degenerate_single_doc(spark):
    from protosc_spark.textops import heaps_fit

    df = spark.createDataFrame(
        [(5, "a b c")], "doc_id long, text string"
    )
    r = heaps_fit(df).collect()[0]
    # one doc -> all checkpoints collapse to one point -> NULL fit
    assert r.n_docs == 1 and r.vocab == 3
    assert r.m == 1 and r.beta is None and r.r2 is None


# ---------------------------------------------------------------------------
# readability
# ---------------------------------------------------------------------------

def _readability_ref(text):
    import re

    letters = len(re.findall(r"[A-Za-z]", text))
    chars = len(re.findall(r"[A-Za-z0-9]", text))
    words = len(re.findall(r"[A-Za-z0-9]+", text))
    sents = max(len(re.findall(r"[.!?]+", text)), 1)
    if words == 0:
        return letters, words, sents, None, None
    ari = 4.71 * chars / words + 0.5 * words / sents - 21.43
    cli = (
        0.0588 * (letters / words * 100.0)
        - 0.296 * (sents / words * 100.0)
        - 15.8
    )
    return letters, words, sents, ari, cli


def test_readability_matches_reference(spark):
    from protosc_spark.textops import readability

    texts = [
        "The cat sat. The dog ran!",
        "Incomprehensibility characterizes bureaucratic "
        "documentation; nevertheless, practitioners persevere.",
        "a b c d e.",
        "no terminal punctuation at all",
        "v2 has 3 digits... and ellipses?! ok",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in readability(df).collect()}
    for i, t in enumerate(texts):
        letters, words, sents, ari, cli = _readability_ref(t)
        r = got[i]
        assert (r.n_letters, r.n_words, r.n_sentences) == (
            letters, words, sents,
        )
        assert abs(r.ari - ari) < 1e-9 and abs(r.cli - cli) < 1e-9
    # long academic words score harder than the cat sentence on both
    assert got[1].ari > got[0].ari and got[1].cli > got[0].cli


def test_readability_degenerate(spark):
    from protosc_spark.textops import readability

    df = spark.createDataFrame(
        [(0, ""), (1, "?!... --- ;;"), (2, "123")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in readability(df).collect()}
    assert got[0].n_words == 0 and got[0].ari is None
    assert got[1].n_words == 0 and got[1].cli is None
    assert got[2].n_words == 1 and got[2].n_letters == 0
    assert got[2].ari is not None


# ---------------------------------------------------------------------------
# vocab_richness
# ---------------------------------------------------------------------------

def test_vocab_richness_hand_fixture(spark):
    from protosc_spark.textops import vocab_richness

    df = spark.createDataFrame(
        [
            ("a", "x x y z"),
            ("b", "p p q q"),
            ("c", None),
            ("c", "only once each here"),
        ],
        "source string, text string",
    )
    got = {r.source: r for r in vocab_richness(df).collect()}
    a = got["a"]  # tokens x,x,y,z: N=4 V=3 f1=2 f2=1
    assert (a.n_tokens, a.vocab, a.f1, a.f2) == (4, 3, 2, 1)
    assert abs(a.chao1 - (3 + 2 * 1 / (2 * 2))) < 1e-12
    assert abs(a.gt_unseen - 0.5) < 1e-12
    b = got["b"]  # all dis legomena: f1=0 -> chao1 == V exactly
    assert (b.f1, b.f2) == (0, 2) and b.chao1 == 2.0
    assert b.gt_unseen == 0.0
    c = got["c"]  # NULL text dropped; every token a hapax
    assert (c.n_tokens, c.vocab, c.f1, c.f2) == (4, 4, 4, 0)
    assert abs(c.chao1 - (4 + 4 * 3 / 2)) < 1e-12
    assert c.gt_unseen == 1.0


def test_vocab_richness_empty_token_convention(spark):
    from protosc_spark.textops import vocab_richness

    # double space yields an empty token (the split convention all
    # text kernels share)
    df = spark.createDataFrame(
        [("a", "x  y")], "source string, text string"
    )
    r = vocab_richness(df).collect()[0]
    assert r.n_tokens == 3 and r.vocab == 3


def test_readability_vocab_plan_no_python(spark):
    from protosc_spark.textops import readability, vocab_richness

    df = spark.createDataFrame(
        [(1, "a b", "s")], "doc_id long, text string, source string"
    )
    for out in (readability(df), vocab_richness(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# vocab_overlap
# ---------------------------------------------------------------------------

def test_vocab_overlap_hand_fixture(spark):
    from protosc_spark.textops import vocab_overlap

    df = spark.createDataFrame(
        [
            ("a", "x y z"),
            ("a", "x w"),        # Va = {x,y,z,w}
            ("b", "x y q"),      # Vb = {x,y,q}
            ("c", "zz qq"),      # disjoint from a
            ("c", "q"),          # shares q with b
        ],
        "source string, text string",
    )
    got = {
        (r.group_a, r.group_b): r
        for r in vocab_overlap(df).collect()
    }
    ab = got[("a", "b")]
    assert (ab.v_a, ab.v_b, ab.n_common) == (4, 3, 2)
    assert abs(ab.jaccard - 2 / 5) < 1e-12
    assert abs(ab.contain_a - 2 / 4) < 1e-12
    assert abs(ab.contain_b - 2 / 3) < 1e-12
    bc = got[("b", "c")]
    assert bc.n_common == 1 and abs(bc.jaccard - 1 / 5) < 1e-12
    # empty intersections never materialize
    assert ("a", "c") not in got


def test_vocab_overlap_identical_sources(spark):
    from protosc_spark.textops import vocab_overlap

    df = spark.createDataFrame(
        [("a", "p q r"), ("b", "p q r"), ("b", "p p")],
        "source string, text string",
    )
    r = vocab_overlap(df).collect()[0]
    assert r.jaccard == 1.0
    assert r.contain_a == 1.0 and r.contain_b == 1.0


def test_vocab_overlap_plan_no_python(spark):
    from protosc_spark.textops import vocab_overlap

    df = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "source string, text string"
    )
    plan = (
        vocab_overlap(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# lexical_diversity
# ---------------------------------------------------------------------------

def _lexdiv_ref(texts):
    """Literal replay: split(' ') keeping empties, exact integers,
    the kernel's float trees."""
    import math
    from collections import Counter

    cnt = Counter(
        t for s in texts if s is not None for t in s.split(" ")
    )
    n = sum(cnt.values())
    v = len(cnt)
    m2 = sum(c * c for c in cnt.values())
    mm = sum(c * (c - 1) for c in cnt.values())
    yule = (
        10000.0 * float(m2 - n) / (float(n) * float(n))
        if n >= 2 else None
    )
    simpson = (
        float(mm) / (float(n) * (float(n) - 1.0))
        if n >= 2 else None
    )
    herdan = (
        math.log(float(v)) / math.log(float(n))
        if n > 1 and v > 1 else None
    )
    return n, v, yule, simpson, herdan


def test_lexdiv_repetitive_vs_diverse(spark):
    from protosc_spark.textops import lexical_diversity

    rep = ["the the the the cat", "the the the dog the"]
    div = ["alpha beta gamma delta", "epsilon zeta eta theta"]
    rows = [("rep", t) for t in rep] + [("div", t) for t in div]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        r.source: r
        for r in lexical_diversity(df).collect()
    }
    n, v, yule, simpson, herdan = _lexdiv_ref(rep)
    assert out["rep"].n_tokens == n and out["rep"].v_types == v
    assert out["rep"].yule_k == yule
    assert out["rep"].simpson_d == simpson
    # ln is a JVM intrinsic: 1-ulp vs libm is expected
    assert abs(out["rep"].herdan_c - herdan) < 1e-12
    nd, vd, yd, sd, hd = _lexdiv_ref(div)
    assert out["div"].yule_k == yd == 0.0  # all hapax: K = 0
    assert out["rep"].yule_k > 1000
    assert out["rep"].simpson_d > out["div"].simpson_d == 0.0


def test_lexdiv_empty_token_convention_and_degenerate(spark):
    from protosc_spark.textops import lexical_diversity

    # double space -> empty token type, counted like all kernels
    df = spark.createDataFrame(
        [("a", "x  y x")], "source string, text string"
    )
    r = lexical_diversity(df).collect()[0]
    n, v, yule, simpson, herdan = _lexdiv_ref(["x  y x"])
    assert r.n_tokens == n == 4 and r.v_types == v == 3
    assert r.yule_k == yule and r.simpson_d == simpson

    # single token: everything abstains
    df = spark.createDataFrame(
        [("a", "solo")], "source string, text string"
    )
    r = lexical_diversity(df).collect()[0]
    assert r.yule_k is None and r.herdan_c is None


# ---------------------------------------------------------------------------
# burrows_delta
# ---------------------------------------------------------------------------

def _burrows_ref(groups, top_words=150, unit=10**12,
                 z_unit=10**9):
    """Digit-for-digit replay of the quantized Delta pipeline."""
    import math
    from collections import Counter

    cnts = {
        g: Counter(t for s in texts for t in s.split(" "))
        for g, texts in groups.items()
    }
    tot = Counter()
    for c in cnts.values():
        tot.update(c)
    top = sorted(
        tot.items(), key=lambda kv: (-kv[1], kv[0])
    )[:top_words]
    toks = [t for t, _ in top]
    ngs = {g: sum(c.values()) for g, c in cnts.items()}
    fq = {
        (g, t): cnts[g].get(t, 0) * unit // ngs[g]
        for g in groups
        for t in toks
    }
    k = len(groups)
    out = {}
    for t in toks:
        vals = [fq[(g, t)] for g in groups]
        s, q = sum(vals), sum(v * v for v in vals)
        vn = k * q - s * s
        if vn <= 0:
            continue
        sd = math.sqrt(float(vn)) / float(k)
        out[t] = sd
    gs = sorted(groups)
    res = {}
    for i, ga in enumerate(gs):
        for gb in gs[i + 1:]:
            su, nw = 0, 0
            for t, sd in out.items():
                su += math.floor(
                    abs(fq[(ga, t)] - fq[(gb, t)]) / sd
                    * float(z_unit)
                )
                nw += 1
            res[(ga, gb)] = (
                nw, float(su) / float(z_unit) / float(nw)
            )
    return res


def test_burrows_same_voice_vs_boilerplate(spark):
    from protosc_spark.textops import burrows_delta

    groups = {
        "a": ["the cat sat on the mat", "the dog ran to the cat"],
        "b": ["the fox sat on the log", "the owl ran to the fox"],
        "c": ["buy now click here buy now", "click here buy now"],
    }
    rows = [
        (g, t) for g, texts in groups.items() for t in texts
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r.group_a, r.group_b): (r.n_words, r.delta)
        for r in burrows_delta(df, top_words=20).collect()
    }
    ref = _burrows_ref(groups, top_words=20)
    assert set(out) == set(ref)
    for key in ref:
        assert out[key][0] == ref[key][0]
        assert out[key][1] == ref[key][1], key
    # a and b share the function-word voice; c is boilerplate
    assert out[("a", "b")][1] < out[("a", "c")][1]
    assert out[("a", "b")][1] < out[("b", "c")][1]


def test_burrows_identical_groups_zero(spark):
    from protosc_spark.textops import burrows_delta

    texts = ["alpha beta gamma alpha", "beta gamma delta"]
    rows = [("x", t) for t in texts] + [("y", t) for t in texts]
    df = spark.createDataFrame(rows, "source string, text string")
    out = burrows_delta(df, top_words=10).collect()
    # identical relative frequencies: every word has zero variance,
    # so no word survives -> no pair rows at all (documented)
    assert out == [] or all(r.delta == 0.0 for r in out)


# word_burstiness ---------------------------------------------------


def _bdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def test_word_burstiness_exact_counts(spark):
    from protosc_spark.textops import word_burstiness

    texts = [
        "the the the cat",   # 'the' bursts: 3 occurrences, 1 doc
        "the dog",
        "a dog barks",
        "a cat naps",
    ]
    out = {
        r.token: r
        for r in word_burstiness(_bdocs(spark, texts), k=10
                                 ).collect()
    }
    the = out["the"]
    assert (the.cf, the.doc_freq, the.doc_freq2) == (4, 2, 1)
    assert the.burstiness == 2.0 and the.adaptation == 0.5
    import math

    assert the.poisson_df == 4.0 * (1.0 - math.exp(-4.0 / 4.0))
    dog = out["dog"]
    assert (dog.cf, dog.doc_freq, dog.doc_freq2) == (2, 2, 0)
    assert dog.burstiness == 1.0 and dog.adaptation == 0.0


def test_word_burstiness_topk_deterministic(spark):
    from protosc_spark.textops import word_burstiness

    # cf ties broken by token asc at the k boundary
    texts = ["aa bb", "aa bb", "cc dd", "cc dd"]
    rows = word_burstiness(_bdocs(spark, texts), k=3).collect()
    got = sorted(
        [(r.cf, r.token) for r in rows],
        key=lambda x: (-x[0], x[1]),
    )
    assert got == [(2, "aa"), (2, "bb"), (2, "cc")]


def test_word_burstiness_poisson_vs_bursty(spark):
    from protosc_spark.textops import word_burstiness

    import random

    rng = random.Random(7)
    texts = []
    for _ in range(200):
        # 'flat' appears at most once per doc (Poisson-like);
        # 'hot' appears 0 or 5 times (bursty)
        words = ["pad"] * 3
        if rng.random() < 0.5:
            words.append("flat")
        if rng.random() < 0.2:
            words += ["hot"] * 5
        texts.append(" ".join(words))
    out = {
        r.token: r
        for r in word_burstiness(_bdocs(spark, texts), k=10
                                 ).collect()
    }
    assert out["flat"].adaptation == 0.0
    assert out["hot"].adaptation == 1.0
    assert out["hot"].burstiness == 5.0
    # bursty word hits far fewer docs than Poisson with its cf would
    assert out["hot"].doc_freq < 0.5 * out["hot"].poisson_df


# char_entropy ------------------------------------------------------


def test_char_entropy_extremes_and_replay(spark):
    from protosc_spark.textops import char_entropy

    import math

    docs = _bdocs(spark, ["aaaaaaaa", "abcdefgh", "aabb"])
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    # constant doc: zero entropy, evenness undefined (k = 1)
    assert out[0].entropy_nats == 0.0
    assert out[0].evenness is None and out[0].k_distinct == 1
    # all-distinct doc: H = ln 8 up to the 1e-9 ln grid
    assert abs(out[1].entropy_nats - math.log(8)) < 1e-8
    assert abs(out[1].evenness - 1.0) < 1e-8
    # digit-exact replay of the quantized pipeline for 'aabb'
    lnq = math.floor(math.log(2.0 / 4.0) * 1e9)
    h_ref = -float(2 * lnq + 2 * lnq) / (4.0 * 1e9)
    assert out[2].entropy_nats == h_ref
    assert out[2].evenness == h_ref / math.log(2.0)


def test_char_entropy_orders_quality(spark):
    from protosc_spark.textops import char_entropy

    docs = _bdocs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",
            "spam spam spam spam spam spam spam spam",
            "x" * 40,
        ],
    )
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    # prose > repetitive boilerplate > padding
    assert (
        out[0].entropy_nats
        > out[1].entropy_nats
        > out[2].entropy_nats
    )

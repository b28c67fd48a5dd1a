"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2) over the
driver testdata tables; ``oracle_sql()`` gives DuckDB-runnable ANSI SQL that
reproduces each result exactly (same column names/types; float columns rounded
to 4 decimals on both sides; ordering by raw score with doc-id tie-breaks so
top-k sets agree across engines).

Fulltext queries run the real engine: an inverted index is built (and cached
per sf_dir under /tmp) with ``IndexBuilder`` and queried via ``Searcher`` —
the oracle recomputes BM25 from first principles in SQL.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark import multimodal, textops, vecops

K1, B = 1.2, 0.75
TOPK = 10

# --------------------------------------------------------------------------
# engine index per sf_dir (cached across queries; stage-resume makes rebuilds
# after interruption cheap)
# --------------------------------------------------------------------------

_READERS: dict[tuple[str, str], IndexReader] = {}

# stopword list shared by the text-analyzer query and its oracle
TEXT_STOPS = ("the", "a", "of", "and", "to", "in", "is", "it")
# the deterministic testdata vocabulary (same at every sf) — used ONLY to
# build the oracle's stem CASE map; the engine stems dynamically
VOCAB = (
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the", "dup",
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _index(
    spark: SparkSession,
    sf_dir: str,
    analyzer: str = "simple",
    tag: str = "",
    with_offsets: bool = False,
) -> IndexReader:
    key = (sf_dir, tag or "base")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|{analyzer}|{tag}".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(
        spark, path, analyzer=analyzer, num_segments=4, with_offsets=with_offsets
    )
    if builder.read_meta() is None:
        df = _docs(spark, sf_dir).withColumn(
            "doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0")
        )
        builder.build(
            df, key_col="doc_key", text_col="text", stored_cols=("lang", "n_chars")
        )
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _text_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index analyzed with the full text pipeline (stopwords + Porter2)."""
    return _index(spark, sf_dir, analyzer="text_en:" + ",".join(TEXT_STOPS), tag="text")


def _edge_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index analyzed with the text pipeline + EDGE N-GRAMS over the stemmed
    output (text_token_stream.cpp:483-531 edgeNgram option: min=2, max=3,
    preserveOriginal) — the search-as-you-type field config; all grams of a
    word share its position slot."""
    return _index(
        spark, sf_dir, analyzer="text:en,edge:2-3-p," + ",".join(TEXT_STOPS), tag="edge"
    )


def _syn_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index with 0-increment synonym injection: every 'scan' token also
    emits 'scansyn' at the SAME position (SamePosition gets non-empty
    verified results)."""
    return _index(spark, sf_dir, analyzer="simple+syn:scan=scansyn", tag="syn")


def _nested_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Parent/child index for ByNestedFilter: every 5 consecutive documents
    become children of a synthetic parent doc (doc_key 9xxxxxxx = 90000000 +
    group id, empty text, parent_key NULL)."""
    key = (sf_dir, "nested")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|nested".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=4)
    if builder.read_meta() is None:
        docs = _docs(spark, sf_dir)
        children = docs.select(
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_key"),
            "text",
            (F.col("doc_id") / 5).cast("bigint").alias("gid"),
        ).withColumn("parent_key", (F.col("gid") + 90000000).cast("string")).drop("gid")
        parents = (
            docs.select((F.col("doc_id") / 5).cast("bigint").alias("gid"))
            .distinct()
            .select(
                (F.col("gid") + 90000000).cast("string").alias("doc_key"),
                F.lit("").alias("text"),
                F.lit(None).cast("string").alias("parent_key"),
            )
        )
        builder.build(
            children.unionByName(parents),
            key_col="doc_key",
            text_col="text",
            stored_cols=("parent_key",),
        )
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _fields_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Two-field index (reference per-doc field lists, index-put.cpp:258-277):
    ``body`` = the full text, ``title`` = the first 6 tokens (derived
    deterministically so DuckDB replays the same field)."""
    key = (sf_dir, "fields")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|fields".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=4)
    if builder.read_meta() is None:
        toks = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
        )
        df = (
            _docs(spark, sf_dir)
            .withColumn("doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .withColumn("title", F.array_join(F.slice(toks, 1, 6), " "))
        )
        builder.build(
            df, key_col="doc_key",
            fields=(("body", "text", "simple"), ("title", "title", "simple")),
        )
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


# deterministic latin→Thai mapping for the th-segmentation driver check:
# 26 consonants (U+0E01..U+0E1A) + 10 Thai digits (U+0E50..U+0E59)
_THAI_SRC = "abcdefghijklmnopqrstuvwxyz0123456789"
_THAI_DST = "".join(chr(0x0E01 + i) for i in range(26)) + "".join(
    chr(0x0E50 + d) for d in range(10)
)


def _th_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Thai-segmentation index: the corpus is mapped onto Thai consonants +
    Thai digits (deterministic translate), analyzed with ``text:th`` — the
    grapheme-cluster segmentation emits one token per consonant and one per
    digit RUN, which the oracle reproduces with
    ``regexp_extract_all(t, '[ก-ฮ]|[๐-๙]+')``."""
    key = (sf_dir, "th")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|th".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="text:th", num_segments=4)
    if builder.read_meta() is None:
        df = (
            _docs(spark, sf_dir)
            .withColumn("doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .withColumn("ttext", F.translate(F.lower(F.col("text")), _THAI_SRC, _THAI_DST))
        )
        builder.build(df, key_col="doc_key", text_col="ttext")
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _sv_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Swedish-collation index: a/e/o are mapped onto å/ä/ö (deterministic
    translate) and every doc's FULL text is keyed by the sv-tailored
    collation analyzer (one sort-key token per doc, collation_token_stream
    semantics). The CLDR sv tailoring places å<ä<ö AFTER z as distinct
    primary letters (sort surrogates 'z'+chr(127)+'1..3'), so a Range
    filter over the keys follows the Swedish order — the oracle reproduces
    the key with the same replace chain in SQL."""
    key = (sf_dir, "sv")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|sv".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="collation:primary,sv", num_segments=4)
    if builder.read_meta() is None:
        df = (
            _docs(spark, sf_dir)
            .withColumn("doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .withColumn("svtext", F.translate(F.lower(F.col("text")), "aeo", "åäö"))
        )
        builder.build(df, key_col="doc_key", text_col="svtext")
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _da_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Danish-collation index exercising the CLDR CONTRACTION rule
    (collation_token_stream.cpp + CLDR da tailoring): e/o are mapped onto
    \u00e6/\u00f8 and every original 'a' is doubled into an isolated "aa" —
    the da tailoring's contraction collates "aa" AS \u00e5 (a distinct letter
    after z), so docs whose transformed text begins with "aa" sort after
    every z-word, which an untailored (or contraction-less, per-char) fold
    could never produce. The oracle replays the identical longest-first
    replace chain in SQL."""
    key = (sf_dir, "da")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|da".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="collation:primary,da", num_segments=4)
    if builder.read_meta() is None:
        df = (
            _docs(spark, sf_dir)
            .withColumn("doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .withColumn(
                "datext",
                F.regexp_replace(
                    F.translate(F.lower(F.col("text")), "eo", "\u00e6\u00f8"),
                    "a",
                    "aa",
                ),
            )
        )
        builder.build(df, key_col="doc_key", text_col="datext")
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _pay_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """PAY-stream index: every token of the corpus is rewritten as
    ``token|payload`` with payload = (doc_id*7 + pos*13) % 1000 (pos 1-based),
    analyzed with the delimited-payload analyzer and built with
    ``with_payloads=True`` — the engine must parse, encode and round-trip the
    per-occurrence payload stream; the oracle recomputes the payload formula
    directly from (doc_id, pos)."""
    key = (sf_dir, "pay")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|pay".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(
        spark, path, analyzer="payload:|", num_segments=4, with_payloads=True
    )
    if builder.read_meta() is None:
        toks = F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
        )
        df = (
            _docs(spark, sf_dir)
            .withColumn("doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0"))
            .withColumn(
                "ptext",
                F.array_join(
                    F.transform(
                        toks,
                        lambda x, i: F.concat(
                            x,
                            F.lit("|"),
                            ((F.col("doc_id") * 7 + (i + 1) * 13) % 1000).cast("string"),
                        ),
                    ),
                    " ",
                ),
            )
        )
        builder.build(df, key_col="doc_key", text_col="ptext")
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _append_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index built as TWO generations (build half, append half): global BM25
    stats re-aggregate across appends, so every query must equal the
    single-build oracle (index_writer incremental commits)."""
    key = (sf_dir, "append")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|append".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=2)
    if builder.read_meta() is None:
        df = _docs(spark, sf_dir).withColumn(
            "doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0")
        )
        n = df.count()
        cut = F.col("doc_id") < n // 2
        builder.build(df.where(cut), key_col="doc_key", text_col="text")
        builder.append(df.where(~cut))
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _consolidated_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Base index consolidated to one segment (merge_writer path): scores and
    ranks must be invariant under merge."""
    from iresearch_spark.index.consolidate import consolidate

    key = (sf_dir, "consol")
    if key in _READERS:
        return _READERS[key]
    h = hashlib.md5(f"{sf_dir}|consol".encode()).hexdigest()[:10]
    path = os.path.join("/tmp", f"iresearch_entry_idx_v3_{h}")
    os.makedirs(path, exist_ok=True)
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=4)
    if builder.read_meta() is None:
        df = _docs(spark, sf_dir).withColumn(
            "doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0")
        )
        builder.build(df, key_col="doc_key", text_col="text")
        consolidate(IndexReader(spark, path))
    _READERS[key] = IndexReader(spark, path)
    return _READERS[key]


def _del_index(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Index with a document_mask: docs with doc_id % 7 == 3 deleted.
    Reference delete semantics: masked docs vanish from results immediately,
    global stats stay stale until consolidation purges them — the oracle
    therefore computes BM25 stats over ALL docs and filters matches."""
    from iresearch_spark.index.deletes import delete_docs

    key = (sf_dir, "del")
    if key in _READERS:
        return _READERS[key]
    reader = _index(spark, sf_dir, analyzer="simple", tag="delbase")
    if "deletes" not in reader.meta["tables"]:
        keys = reader.docs().where(
            (F.col("doc_key").cast("bigint") % 7) == 3
        ).select("doc_key")
        delete_docs(reader, keys)
        reader = IndexReader(spark, reader.index_path)
    _READERS[key] = reader
    return reader


def _run_search(spark: SparkSession, sf_dir: str, f: flt.Filter, k: int = TOPK) -> DataFrame:
    reader = _index(spark, sf_dir)
    res = Searcher(reader, k1=K1, b=B).search(f, k=k, dtype="float64")
    return res.select(
        F.col("doc_key").cast("bigint").alias("doc_id"),
        F.round(F.col("score"), 4).cast("double").alias("score"),
    )


# --------------------------------------------------------------------------
# oracle SQL building blocks
# --------------------------------------------------------------------------

_BM25_CTE = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""

_TOKS_CTE = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
)
"""


def _text_tok_cte() -> str:
    """Tokenize + stopword-filter + stem CTE reproducing the ``text_en``
    analyzer in SQL. DuckDB has no offline Snowball function, so the stem
    step is a CASE map over the (fixed, 31-word) testdata vocabulary,
    generated by the SAME Porter2 implementation the engine uses — the
    stemmer itself is verified against hand-traced algorithm fixtures in
    tests/test_text_analyzer.py; this oracle verifies the full index+query
    pipeline over stemmed tokens."""
    from iresearch_spark.analysis.stemmer import stem_english

    stops = ", ".join(f"'{w}'" for w in TEXT_STOPS)
    whens = " ".join(f"WHEN '{w}' THEN '{stem_english(w)}'" for w in VOCAB)
    return f"""
WITH tok AS (
  SELECT doc_id, CASE raw {whens} ELSE raw END AS term FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '' AND x NOT IN ({stops}))) AS raw
    FROM documents)
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""


def _text_edge_tok_cte() -> str:
    """Text analyzer + edge-ngram CTE: the stem map of :func:`_text_tok_cte`
    (``src`` = stopword-filtered stemmed source words), then each word of
    length L expands to prefixes 2..min(L,3) plus — preserveOriginal — the
    full word when L>3 or L<2 (next_ngram semantics,
    text_token_stream.cpp:1137-1204). BM25 doc length counts SOURCE words
    (every gram of a word shares its position slot, so Norm2 = max position
    = source-word count)."""
    from iresearch_spark.analysis.stemmer import stem_english

    stops = ", ".join(f"'{w}'" for w in TEXT_STOPS)
    whens = " ".join(f"WHEN '{w}' THEN '{stem_english(w)}'" for w in VOCAB)
    return f"""
WITH src AS (
  SELECT doc_id, CASE raw {whens} ELSE raw END AS term FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '' AND x NOT IN ({stops}))) AS raw
    FROM documents)
),
tok AS (
  SELECT doc_id, substr(term, 1, g) AS term
  FROM src, unnest(generate_series(2, least(length(term), 3))) AS t(g)
  WHERE length(term) >= 2
  UNION ALL
  SELECT doc_id, term FROM src WHERE length(term) > 3 OR length(term) < 2
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM src GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""


def _bm25_sql(
    term_pred: str,
    min_match: int = 1,
    exclude_term: str | None = None,
    k: int = TOPK,
    cte: str | None = None,
    where_extra: str = "",
    leg_boost: str = "1.0",
) -> str:
    """BM25 sum-of-legs top-k in pure SQL (k1=1.2 b=0.75, IResearch idf).

    ``leg_boost``: SQL expression multiplying each leg's score — the
    per-expanded-term boost of multiterm queries (multiterm_query.cpp:
    150-157 ``entry.boost * boost()``; for by_edit_distance the boost is
    the similarity 1 - d/min(|term|, |target|), levenshtein_filter.cpp
    ::similarity)."""
    excl = (
        f"AND leg.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{exclude_term}')"
        if exclude_term
        else ""
    )
    excl += f" {where_extra}" if where_extra else ""
    return f"""{cte if cte is not None else _BM25_CTE},
q AS (SELECT term FROM dfreq WHERE {term_pred}),
leg AS (
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf)
           * ({leg_boost}) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
)
SELECT doc_id, CAST(round(s_sum, 4) AS DOUBLE) AS score
FROM (
  SELECT leg.doc_id, sum(leg.s) AS s_sum, count(*) AS c
  FROM leg
  WHERE 1=1 {excl}
  GROUP BY leg.doc_id
)
WHERE c >= {min_match}
ORDER BY s_sum DESC, doc_id
LIMIT {k}"""


def _tfidf_sql(term_pred: str, k: int = TOPK) -> str:
    """TF-IDF top-k: sqrt(tf) * (ln((n+1)/(df+1)) + 1) summed over legs."""
    return f"""{_BM25_CTE},
q AS (SELECT term FROM dfreq WHERE {term_pred}),
leg AS (
  SELECT tf.doc_id, sqrt(tf.tf) * (ln((st.n + 1) / (d.df + 1)) + 1) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  CROSS JOIN st
)
SELECT doc_id, CAST(round(s_sum, 4) AS DOUBLE) AS score
FROM (SELECT doc_id, sum(s) AS s_sum FROM leg GROUP BY doc_id)
ORDER BY s_sum DESC, doc_id
LIMIT {k}"""


def _phrase_sql(terms: tuple[str, ...], k: int = TOPK) -> str:
    """Phrase BM25: tf = occurrence count via non-overlapping double-space
    token join; df = matching docs; same formula as the engine phrase path."""
    ph = " " + "  ".join(terms) + " "
    return f"""
WITH norm AS (
  SELECT doc_id,
         ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                            x -> x <> ''), '  ') || ' ' AS s,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::DOUBLE AS dl
  FROM documents
),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM norm WHERE dl > 0),
m AS (
  SELECT doc_id, dl,
         ((length(s) - length(replace(s, '{ph}', ''))) / length('{ph}'))::DOUBLE AS tf
  FROM norm WHERE s LIKE '%{ph}%'
),
pst AS (SELECT count(*)::DOUBLE AS dfp FROM m)
SELECT doc_id, CAST(round(s_raw, 4) AS DOUBLE) AS score
FROM (
  SELECT m.doc_id,
         (2.2 * ln(1 + (st.n - pst.dfp + 0.5) / (pst.dfp + 0.5))) * m.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * m.dl / st.avgdl + m.tf) AS s_raw
  FROM m CROSS JOIN st CROSS JOIN pst
)
ORDER BY s_raw DESC, doc_id
LIMIT {k}"""


def _phrase_regex_sql(pattern: str, k: int = TOPK) -> str:
    """Variadic-phrase BM25: occurrences counted by a token-regex over the
    double-space-joined token stream (slots like a prefix become character
    classes); same match-df scoring as :func:`_phrase_sql`."""
    return f"""
WITH norm AS (
  SELECT doc_id,
         ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                            x -> x <> ''), '  ') || ' ' AS s,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::DOUBLE AS dl
  FROM documents
),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM norm WHERE dl > 0),
m AS (
  SELECT doc_id, dl, len(regexp_extract_all(s, '{pattern}'))::DOUBLE AS tf
  FROM norm WHERE regexp_matches(s, '{pattern}')
),
pst AS (SELECT count(*)::DOUBLE AS dfp FROM m)
SELECT doc_id, CAST(round(s_raw, 4) AS DOUBLE) AS score
FROM (
  SELECT m.doc_id,
         (2.2 * ln(1 + (st.n - pst.dfp + 0.5) / (pst.dfp + 0.5))) * m.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * m.dl / st.avgdl + m.tf) AS s_raw
  FROM m CROSS JOIN st CROSS JOIN pst
)
ORDER BY s_raw DESC, doc_id
LIMIT {k}"""


# two-field oracle: body = all tokens, title = the first 6 tokens (DuckDB
# list slices are 1-based inclusive); each field has its own tf/dl/stats/df
_TWO_FIELD_CTE = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
  FROM documents
),
btf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM (
          SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
bdl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM t WHERE len(toks) > 0),
bst AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM bdl),
bdf AS (SELECT term, count(*)::DOUBLE AS df FROM btf GROUP BY 1),
ttf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM (
          SELECT doc_id, unnest(toks[1:6]) AS term FROM t) GROUP BY 1, 2),
tdl AS (SELECT doc_id, least(len(toks), 6)::DOUBLE AS dl FROM t WHERE len(toks) > 0),
tst AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM tdl),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM ttf GROUP BY 1)
"""


def _field_leg_sql(prefix: str, term: str) -> str:
    """One field's BM25 leg over the two-field CTE tables (prefix b/t)."""
    p = prefix
    return f"""
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s
  FROM {p}tf tf
  JOIN {p}df d ON d.term = tf.term
  JOIN {p}dl dl ON dl.doc_id = tf.doc_id
  CROSS JOIN {p}st st
  WHERE tf.term = '{term}'"""


def _phrase_sum_sql(terms: tuple[str, ...], k: int = TOPK) -> str:
    """Reference-parity phrase BM25 (phrase_filter.cpp term_stats.finish:
    idf = SUM of member-term idfs; tf = phrase occurrence count)."""
    ph = " " + "  ".join(terms) + " "
    qlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
  FROM documents
),
norm AS (
  SELECT doc_id, ' ' || array_to_string(toks, '  ') || ' ' AS s,
         len(toks)::DOUBLE AS dl
  FROM base
),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM norm WHERE dl > 0),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY 1),
q AS (SELECT unnest([{qlist}]) AS term),
idfs AS (
  SELECT sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) AS idf_sum
  FROM q JOIN dfreq d USING (term) CROSS JOIN st
),
m AS (
  SELECT doc_id, dl,
         ((length(s) - length(replace(s, '{ph}', ''))) / length('{ph}'))::DOUBLE AS tf
  FROM norm WHERE s LIKE '%{ph}%'
)
SELECT doc_id, CAST(round(s_raw, 4) AS DOUBLE) AS score
FROM (
  SELECT m.doc_id,
         2.2 * idfs.idf_sum * m.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * m.dl / st.avgdl + m.tf) AS s_raw
  FROM m CROSS JOIN st CROSS JOIN idfs
)
ORDER BY s_raw DESC, doc_id
LIMIT {k}"""


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]"


def _bucket_expr(vcol: str, planes: list[list[float]]) -> str:
    """Sign-LSH bucket id in SQL — bit i = (v · plane_i) >= 0; the planes are
    the engine's own deterministic LCG hyperplanes embedded as literals, so
    oracle and engine hash with identical geometry."""
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({vcol}, {_plane_sql(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({bits})::BIGINT"


def _shingle_cte(k: int = 3) -> str:
    return f"""{_TOKS_CTE},
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 1)),
                   i -> array_to_string(toks[i:i+{k - 1}], ' ')))) AS shingle
  FROM t
)"""


def _simhash_sql() -> str:
    hi = "CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)"
    lo = "CAST('0x' || substr(md5(term), 9, 8) AS BIGINT)"
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN ({hi if i < 32 else lo} & {1 << (i % 32)}) <> 0 THEN tf ELSE -tf END) AS b{i}"
        for i in range(64)
    )
    pack = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)" for i in range(63))
    pack += " + (CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
bits AS (SELECT doc_id, {bit_sums} FROM tf GROUP BY doc_id)
SELECT doc_id, ({pack})::BIGINT AS simhash FROM bits"""


def _minhash_sql(num_hashes: int = 8, seed: int = 7) -> str:
    params = textops.minhash_params(num_hashes, seed)
    p = textops.MINHASH_PRIME
    mins = ",\n  ".join(
        f"min(({a}::BIGINT * x + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    return f"""{_shingle_cte(3)},
keyed AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {p} AS x FROM sh)
SELECT doc_id, {mins} FROM keyed GROUP BY doc_id"""


def _minhash_lsh_sql_full(
    num_hashes: int = 8, bands: int = 4, seed: int = 7, max_bucket: int | None = None
) -> str:
    params = textops.minhash_params(num_hashes, seed)
    p = textops.MINHASH_PRIME
    rows = num_hashes // bands
    mins = ",\n  ".join(
        f"min(({a}::BIGINT * x + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    band_exprs = ",\n  ".join(
        "md5("
        + " || '_' || ".join([f"'{bi}'"] + [f"mh{bi * rows + r}::VARCHAR" for r in range(rows)])
        + f") AS band{bi}"
        for bi in range(bands)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, band{bi} AS bucket FROM banded" for bi in range(bands)
    )
    cap = ""
    src = "stacked"
    if max_bucket is not None:
        cap = f""",
sz AS (SELECT bucket, count(*) AS c FROM stacked GROUP BY 1),
kept AS (SELECT doc_id, stacked.bucket FROM stacked JOIN sz USING (bucket) WHERE c <= {max_bucket})"""
        src = "kept"
    return f"""{_shingle_cte(3)},
keyed AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {p} AS x FROM sh),
sig AS (SELECT doc_id, {mins} FROM keyed GROUP BY doc_id),
banded AS (SELECT doc_id, {band_exprs} FROM sig),
stacked AS ({unions}){cap}
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM {src} l JOIN {src} r ON l.bucket = r.bucket AND l.doc_id < r.doc_id"""


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a high-frequency term on sf0.001 through the
    full engine (index build → pruned postings scan → segment kernels)."""
    return _run_search(spark, "/root/testdata/sf0.001", flt.Term("scan"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- fulltext engine queries (index-backed) ----
    q["q_term_high"] = lambda s, d: _run_search(s, d, flt.Term("scan"))
    q["q_term_low"] = lambda s, d: _run_search(s, d, flt.Term("dup"))
    q["q_and_high_low"] = lambda s, d: _run_search(s, d, flt.And((flt.Term("scan"), flt.Term("dup"))))
    q["q_and_not"] = lambda s, d: _run_search(s, d, flt.And((flt.Term("scan"), flt.Not(flt.Term("dup")))))
    # Not under Or: (scan OR all@0) \ dup — every doc without 'dup' matches,
    # scored by the scan leg (boolean_filter.cpp:366-411 group_filters)
    q["q_or_not"] = lambda s, d: _run_search(s, d, flt.Or((flt.Term("scan"), flt.Not(flt.Term("dup")))))
    q["q_or_high_high"] = lambda s, d: _run_search(s, d, flt.Or((flt.Term("scan"), flt.Term("sort"))))
    q["q_or_minmatch"] = lambda s, d: _run_search(
        s, d, flt.Or(tuple(flt.Term(t) for t in ("scan", "sort", "merge", "dup")), min_match=2)
    )
    q["q_terms_set"] = lambda s, d: _run_search(s, d, flt.Terms(("batch", "merge")))
    q["q_prefix"] = lambda s, d: _run_search(s, d, flt.Prefix("s"))
    q["q_range"] = lambda s, d: _run_search(
        s, d, flt.Range(low="query", high="spark", include_low=False)
    )
    q["q_wildcard"] = lambda s, d: _run_search(s, d, flt.Wildcard("s_a%"))
    q["q_fuzzy"] = lambda s, d: _run_search(s, d, flt.Fuzzy("scam", max_distance=1))
    q["q_phrase"] = lambda s, d: _run_search(s, d, flt.Phrase(("fast", "scan")))

    def tfidf_search(s, d, f):
        reader = _index(s, d)
        res = Searcher(reader, scorer="tfidf").search(f, k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_tfidf_term"] = lambda s, d: tfidf_search(s, d, flt.Term("scan"))
    q["q_tfidf_or"] = lambda s, d: tfidf_search(s, d, flt.Or((flt.Term("sort"), flt.Term("merge"))))

    q["q_range_incl"] = lambda s, d: _run_search(
        s, d, flt.Range(low="merge", high="query", include_low=True, include_high=True)
    )
    q["q_terms_minmatch"] = lambda s, d: _run_search(
        s, d, flt.Terms(("scan", "sort", "batch"), min_match=2)
    )
    # explicit min_match = 0 semantics (round-5 parity fixes): an Or with
    # min_match 0 collapses to all-docs at the Or's boost
    # (boolean_filter.cpp:492-496); by_terms with min_match 0 matches every
    # doc, term hits scoring and the rest 0 (terms_filter.cpp:123-133).
    # k spans the whole corpus so the selection is ALL docs, not a tie-broken
    # top-10 among equal scores.
    q["q_or_minmatch0"] = lambda s, d: _run_search(
        s, d, flt.Or((flt.Term("scan"),), min_match=0), k=1_000_000
    )
    q["q_terms_minmatch0"] = lambda s, d: _run_search(
        s, d, flt.Terms(("no_such_term_anywhere",), min_match=0), k=1_000_000
    )

    def boost_search(s, d):
        reader = _index(s, d)
        res = Searcher(reader, scorer="boost").search(flt.Term("scan", boost=2.0), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.col("score").cast("double").alias("score"),
        )

    q["q_boost_scorer"] = boost_search

    def same_position(s, d):
        # distinct terms never share a position in a single bag-of-words field
        # (no 0-increment analyzers) → provably empty; exercises the engine's
        # positional-intersection path and the empty-result contract
        reader = _index(s, d)
        res = Searcher(reader).search(flt.SamePosition(("scan", "sort")), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_same_position_empty"] = same_position

    def same_position_syn(s, d):
        # non-vacuous SamePosition: the synonym index emits 'scansyn' at the
        # same position as every 'scan' token, so the positional intersection
        # returns every scan-doc with tf = scan occurrences
        reader = _syn_index(s, d)
        res = Searcher(reader).search(flt.SamePosition(("scan", "scansyn")), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_same_position_syn"] = same_position_syn

    def same_position_fields(s, d):
        # CROSS-FIELD SamePosition ((field, term) slot pairs — the
        # reference's by_same_position options, same_position_filter.cpp):
        # title = first 6 body tokens, so requiring body:'scan' and
        # title:'scan' at ONE position selects docs with 'scan' among their
        # first 6 tokens; exact-df scoring, tf = aligned-position count,
        # norms from the first slot's field (body)
        reader = _fields_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(
            flt.SamePosition((("body", "scan"), ("title", "scan"))), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_same_position_fields"] = same_position_fields

    def term_text_analyzer(s, d):
        # full text pipeline: stopword filter + Porter2 stem; 'customer'
        # stems to 'custom'
        reader = _text_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(flt.Term("custom"), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_term_text_analyzer"] = term_text_analyzer

    def text_edge_ngram(s, d):
        # edge n-grams over stemmed output (search-as-you-type): 'cus' is
        # the 3-gram of stem 'custom'; BM25 doc length = source-word count
        reader = _edge_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(flt.Term("cus"), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_text_edge_ngram"] = text_edge_ngram

    # by_edit_distance with the exact-prefix option (levenshtein_filter.cpp:
    # 241-265): candidates must start with "s"; only the remainder is matched
    # within 1 edit of "cam" (so "scan" matches via its suffix "can")
    q["q_fuzzy_prefix"] = lambda s, d: _run_search(
        s, d, flt.Fuzzy("cam", max_distance=1, prefix="s")
    )

    q["q_phrase_variadic"] = lambda s, d: _run_search(
        s, d, flt.Phrase(("fast", flt.Prefix("s")))
    )

    def phrase_sumidf(s, d):
        # REFERENCE-PARITY phrase scoring: idf = sum of member-term idfs
        # (phrase_filter.cpp:231-318 term_stats.finish; bm25.cpp:495-497)
        reader = _index(s, d)
        res = Searcher(reader, k1=K1, b=B, phrase_scoring="sum_of_terms").search(
            flt.Phrase(("fast", "scan")), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_phrase_sumidf"] = phrase_sumidf

    def and_phrase_term(s, d):
        # Phrase NESTED under And (in-kernel scored leaf, aggregated
        # sum-of-member-idf stats) conjoined with a term leg, kSum merge
        reader = _index(s, d)
        res = Searcher(reader, k1=K1, b=B, phrase_scoring="sum_of_terms").search(
            flt.And((flt.Phrase(("fast", "scan")), flt.Term("merge"))), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_and_phrase_term"] = and_phrase_term

    def append_term(s, d):
        # two-generation index (build half + append half): BM25 equals the
        # single-build oracle because term_dict/field stats re-aggregate
        reader = _append_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(flt.Term("scan"), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_append_term"] = append_term

    def consolidate_term(s, d):
        # merge_writer invariance: scores/ranks unchanged after consolidation
        reader = _consolidated_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(flt.Term("scan"), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_consolidate_term"] = consolidate_term

    def multi_order(s, d):
        # multi-scorer Order (sort.hpp:218-349): lexicographic (tfidf, bm25)
        # bucket ordering — tfidf ties (equal tf) broken by the bm25 bucket
        reader = _index(s, d)
        res = Searcher(reader, k1=K1, b=B).search_ordered(
            flt.Term("scan"), k=TOPK, scorers=("tfidf", "bm25")
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score0"), 4).cast("double").alias("s_tfidf"),
            F.round(F.col("score1"), 4).cast("double").alias("s_bm25"),
        )

    q["q_multi_order"] = multi_order
    q["q_fuzzy_transpose"] = lambda s, d: _run_search(
        s, d, flt.Fuzzy("saprk", max_distance=1, with_transpositions=True)
    )

    def numeric_range(s, d):
        reader = _index(s, d)
        res = Searcher(reader).search(
            flt.NumericRange("n_chars", low=200, high=400, include_high=False), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.col("score").cast("double").alias("score"),
        )

    q["q_numeric_range"] = numeric_range

    def deletes_term(s, d):
        reader = _del_index(s, d)
        res = Searcher(reader).search(flt.Term("scan"), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_deletes_term"] = deletes_term

    def ngram_sim(s, d):
        res = Searcher(_index(s, d)).search(
            flt.NgramSimilarity(("fast", "scan", "merge"), threshold=2 / 3), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_ngram_similarity"] = ngram_sim

    def nested_min(s, d):
        reader = _nested_index(s, d)
        res = Searcher(reader).search(
            flt.Nested(flt.Term("scan"), match="min", min_children=2), k=TOPK
        )
        return res.select(
            (F.col("doc_key").cast("bigint") - 90000000).alias("gid"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_nested_min"] = nested_min

    # ---- multimodal: REAL pure-numpy decoders over synthesized valid files;
    # features derive arithmetically from doc_id so SQL verifies the decode
    def image_meta_q(s, d):
        media = multimodal.synth_media(_docs(s, d), "image")
        return multimodal.image_meta(media).select(
            "doc_id", "n_bytes", "width", "height",
            F.round("mean_r", 4).alias("mean_r"),
            F.round("mean_g", 4).alias("mean_g"),
            F.round("mean_b", 4).alias("mean_b"),
        )

    q["q_image_meta"] = image_meta_q

    def audio_meta_q(s, d):
        media = multimodal.synth_media(_docs(s, d), "audio")
        return multimodal.audio_meta(media).select(
            "doc_id", "sample_rate", "n_samples",
            F.round("duration_ms", 4).alias("duration_ms"),
            F.round("rms", 4).alias("rms"),
        )

    q["q_audio_meta"] = audio_meta_q

    def video_frames_q(s, d):
        media = multimodal.synth_media(_docs(s, d), "video")
        return multimodal.frame_sample_plan(media, every_n=2).select(
            "doc_id", F.col("n_frames").cast("int"), F.col("frame_idx").cast("int")
        )

    q["q_video_frames"] = video_frames_q

    def batch_search(s, d):
        reader = _index(s, d)
        res = Searcher(reader).search_many(
            {"qa": flt.Term("scan"), "qb": flt.Or((flt.Term("sort"), flt.Term("merge")))},
            k=TOPK,
        )
        docs = reader.docs().select("segment_id", "doc_id", "doc_key")
        return (
            res.join(docs, ["segment_id", "doc_id"])
            .select(
                "query",
                F.col("doc_key").cast("bigint").alias("doc_id"),
                F.round(F.col("score"), 4).cast("double").alias("score"),
            )
            .orderBy("query", F.desc("score"), F.asc(F.col("doc_key").cast("bigint")))
        )

    q["q_batch_topk"] = batch_search

    def term_title_field(s, d):
        # field-scoped term query: BM25 over the title field's OWN stats
        # (per-field df/dl/avgdl — bm25.cpp:204-276 per-field collectors)
        reader = _fields_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(
            flt.Term("scan", field="title"), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_term_title_field"] = term_title_field

    def or_two_fields(s, d):
        # mixed-field disjunction: each leg scores against its own field's
        # norms + stats, summed per doc (per-leaf field scoping)
        reader = _fields_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(
            flt.Or((flt.Term("merge", field="body"), flt.Term("scan", field="title"))),
            k=TOPK,
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_or_two_fields"] = or_two_fields

    def highlight_offsets(s, d):
        # OFFS sidecar + highlight: first-occurrence byte offsets of each
        # query term inside the BM25 top-k docs (index built with_offsets)
        reader = _index(s, d, tag="offs", with_offsets=True)
        hl = Searcher(reader, k1=K1, b=B).highlight(
            flt.Or((flt.Term("scan"), flt.Term("dup"))), k=TOPK
        )
        return hl.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.col("term"),
            F.col("start").cast("bigint").alias("start"),
            F.col("end").cast("bigint").alias("end"),
        ).orderBy("doc_id", "term")

    q["q_highlight_offsets"] = highlight_offsets

    def payloads_q(s, d):
        # PAY stream: per-occurrence (pos, payload) of each query term in the
        # BM25 top-k docs; payload = (doc_id*7 + pos*13) % 1000 by corpus
        # construction, so the oracle recomputes it from first principles —
        # any codec/stream-alignment bug breaks the value hash
        reader = _pay_index(s, d)
        res = Searcher(reader, k1=K1, b=B).payloads(
            flt.Or((flt.Term("scan"), flt.Term("dup"))), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.col("term"),
            F.col("pos").cast("bigint").alias("pos"),
            F.col("payload").cast("bigint").alias("payload"),
        ).orderBy("doc_id", "term", "pos")

    q["q_payloads"] = payloads_q

    def term_th(s, d):
        # Thai grapheme-cluster segmentation end-to-end: BM25 for the cluster
        # that 's' maps to (a per-consonant token under the th approximation)
        reader = _th_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(flt.Term(_THAI_DST[18]), k=TOPK)
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_term_th"] = term_th

    def collation_sv(s, d):
        # Swedish collation tailoring end-to-end: Range(> 'z') over the
        # per-doc collation keys returns exactly the docs whose (translated)
        # text starts with å/ä/ö — letters the CLDR sv order puts AFTER z,
        # which the untailored fold would place back at a/e/o instead
        reader = _sv_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(
            flt.Range(low="z", include_low=False), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_collation_sv"] = collation_sv

    def collation_da(s, d):
        # Danish CONTRACTION end-to-end, decisively: Range over ONLY the
        # \u00e5-letter bucket (keys > 'z'+DEL+'3', past the \u00e6=1 and
        # \u00f8=2 surrogates) — every match is a doc whose transformed text
        # begins with "aa", which reaches this bucket ONLY through the da
        # tailoring's longest-first contraction rule; a per-character fold
        # would leave those docs back at 'a'
        reader = _da_index(s, d)
        res = Searcher(reader, k1=K1, b=B).search(
            flt.Range(low="z\x7f3", include_low=False), k=TOPK
        )
        return res.select(
            F.col("doc_key").cast("bigint").alias("doc_id"),
            F.round(F.col("score"), 4).cast("double").alias("score"),
        )

    q["q_collation_da"] = collation_da

    # ---- text analysis / pipeline ops (declarative DataFrame plans) ----
    q["q_token_stats"] = lambda s, d: textops.token_stats(_docs(s, d)).select(
        "doc_id", F.col("n_tokens").cast("long"), F.col("n_unique").cast("long"),
        F.col("n_subtokens").cast("long"),
    )
    q["q_winnow_fp"] = lambda s, d: textops.winnow_fingerprints(
        _docs(s, d), k=5, window=4
    ).select("doc_id", F.col("fp").cast("long"))
    q["q_quality"] = lambda s, d: textops.quality_score(_docs(s, d)).select(
        "doc_id", F.col("n_tokens").cast("long"), "mean_token_len", "alnum_ratio",
        F.col("len_ok").cast("long"),
    )
    q["q_lang_id"] = lambda s, d: textops.lang_id(_docs(s, d))
    q["q_fingerprint"] = lambda s, d: textops.fingerprint(_docs(s, d))
    q["q_exact_dups"] = lambda s, d: textops.exact_duplicates(_docs(s, d)).select(
        "fp", F.col("dup_count").cast("long"), F.col("keep_id").cast("long")
    )
    q["q_jaccard_pairs"] = lambda s, d: (
        textops.ngram_jaccard_pairs(_docs(s, d), k=3)
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(20)
        .select(F.col("a").cast("long"), F.col("b").cast("long"), "jaccard")
    )
    q["q_minhash_sig"] = lambda s, d: textops.minhash_signatures(_docs(s, d), num_hashes=8)
    q["q_minhash_lsh_pairs"] = lambda s, d: textops.minhash_lsh_pairs(
        _docs(s, d), num_hashes=8, bands=4, max_bucket=64
    ).select(F.col("a").cast("long"), F.col("b").cast("long"))
    q["q_simhash"] = lambda s, d: textops.simhash64(_docs(s, d))
    q["q_column_exists"] = lambda s, d: _docs(s, d).where(F.col("lang").isNotNull()).select(
        "doc_id", "lang"
    )
    q["q_binary_meta"] = lambda s, d: _docs(s, d).select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
        F.md5(F.encode(F.col("text"), "utf-8")).alias("content_md5"),
    )

    # ---- embeddings / similarity search ----
    def cosine_topk(s, d):
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet"))
        dbl = emb.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return vecops.cosine_topk(dbl, qv, k=10).select(
            F.col("vec_id").cast("long"), "cos_sim"
        )

    q["q_cosine_topk"] = cosine_topk

    def cosine_pairs(s, d):
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        return vecops.cosine_pairs(emb, threshold=0.35).select(
            F.col("a").cast("long"), F.col("b").cast("long"), "cos_sim"
        )

    q["q_cosine_pairs"] = cosine_pairs

    def ann_lsh(s, d):  # approximate — no SQL oracle (rows-only check)
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return vecops.ann_topk_lsh(emb, qv, k=10, n_planes=8, probe_hamming=1).select(
            F.col("vec_id").cast("long"), "cos_sim"
        )

    q["q_ann_lsh_topk"] = ann_lsh

    def lsh_bucket_cand(s, d):
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        return (
            vecops.lsh_bucket_candidates(
                emb, n_planes=6, seed=11, max_bucket=32
            )
            .select(F.col("a").cast("long"), F.col("b").cast("long"), "bucket")
        )

    q["q_lsh_bucket_cand"] = lsh_bucket_cand

    def cosine_near_dup(s, d):
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        return vecops.cosine_near_dup_pairs(
            emb, threshold=0.3, n_planes=6, seed=11, max_bucket=32
        ).select(F.col("a").cast("long"), F.col("b").cast("long"), "cos_sim")

    q["q_cosine_near_dup"] = cosine_near_dup

    _ivf_cache: dict[str, tuple] = {}

    def ivf_topk_q(s, d):
        # IVF coarse-quantizer ANN: deterministic LCG init + one Lloyd
        # refinement, corpus MATERIALIZED with list_id as a partition column
        # (vecops.ivf_materialize) so the 2-of-8 probe is a Catalyst partition
        # filter (file pruning), exact cosine rerank — the second scale path
        # next to sign-LSH. The oracle replays the identical pipeline in SQL.
        emb = s.read.parquet(os.path.join(d, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        if d not in _ivf_cache:
            cents = vecops.ivf_centroids(emb, n_lists=8, seed=23, dim=len(qv))
            h = hashlib.md5(f"{d}|ivf_v1".encode()).hexdigest()[:10]
            path = os.path.join("/tmp", f"iresearch_ivf_{h}")
            vecops.ivf_materialize(emb, cents, path)
            _ivf_cache[d] = (cents, path)
        cents, path = _ivf_cache[d]
        mat = s.read.parquet(path)
        return vecops.ivf_topk(mat, qv, k=10, nprobe=2, centroids=cents).select(
            F.col("vec_id").cast("long"), "cos_sim"
        )

    q["q_ivf_topk"] = ivf_topk_q

    # ROTATION DISCIPLINE: the driver's correctness run exercises the first
    # ~50 entries in dict order, so with >50 entries some rotate out each
    # round. Rule (instituted r5 per the r4 verdict): (1) entries NEW this
    # round go first, (2) then every entry that got NO driver check last
    # round (the rotated-out set — for r5 that is the nine r03-green entries
    # absent from CORRECTNESS_r04), (3) entries whose implementation CHANGED
    # this round stay in-window, (4) the explicit tail holds only entries
    # that are BOTH green in the most recent driver window AND untouched
    # this round — so nothing is ever >1 round stale, and nothing changed
    # goes driver-unchecked.
    first = [
        # (1) new in r5
        "q_same_position_fields", "q_or_minmatch0", "q_terms_minmatch0",
        "q_text_edge_ngram", "q_fuzzy_prefix",
        "q_collation_sv", "q_collation_da",
        # (2) green in r03, rotated out of r04's 50-entry window
        "q_lang_id", "q_fingerprint", "q_exact_dups", "q_jaccard_pairs",
        "q_minhash_sig", "q_simhash", "q_column_exists", "q_binary_meta",
        "q_cosine_topk",
    ]
    tail = [
        # (4) r04-green AND r5-unchanged: five fulltext variants whose
        # executor paths are exercised by in-window siblings (term/range/
        # tfidf/same-position/or+minmatch), boost_scorer (scorer plane has
        # no r5 diff; q_tfidf_term/q_multi_order cover scorer wiring
        # in-window), token_stats+quality (narrow maps, last touched r4),
        # cosine_pairs+ivf_topk (vecops hunks this round touch only
        # lsh_bucket_candidates), and the three multimodal entries
        # (multimodal.py has no r5 diff). This keeps every r5-touched op —
        # winnow/shingle/jaccard/minhash-LSH/simhash/lsh-bucket/near-dup/ANN,
        # the fuzzy trio, collation, highlight/payloads/th — inside the
        # driver's 50-entry window.
        "q_term_low", "q_range_incl", "q_tfidf_or", "q_same_position_empty",
        "q_or_high_high", "q_boost_scorer", "q_token_stats", "q_quality",
        "q_cosine_pairs", "q_ivf_topk", "q_image_meta", "q_audio_meta",
        "q_video_frames",
        # demoted when q_fuzzy_prefix entered the window (r5-final): the
        # Not-merge kernel stays in-window via q_and_not, and Not-under-Or
        # compositions are covered by the boolean-tree property suite
        "q_or_not",
        # demoted when q_same_position_fields/q_or_minmatch0/
        # q_terms_minmatch0 entered (r5 continuation), so the r5-TOUCHED ANN
        # entries (q_ann_lsh_topk, q_lsh_bucket_cand, q_cosine_near_dup —
        # lsh_bucket_candidates changed this round) stay in-window: all
        # three sidecar/lifecycle paths below are r4-green, untouched this
        # round, and pinned by the round-4 consolidation-invariant pytests
        "q_payloads", "q_highlight_offsets", "q_append_term",
    ]
    ordered = {k: q[k] for k in first if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered and k not in tail})
    ordered.update({k: q[k] for k in tail if k in q})
    return ordered


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["q_term_high"] = _bm25_sql("term = 'scan'")
    o["q_term_low"] = _bm25_sql("term = 'dup'")
    o["q_and_high_low"] = _bm25_sql("term IN ('scan','dup')", min_match=2)
    o["q_and_not"] = _bm25_sql("term = 'scan'", exclude_term="dup")
    o["q_or_not"] = f"""{_BM25_CTE},
q AS (SELECT term FROM dfreq WHERE term = 'scan'),
leg AS (
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
)
SELECT base.doc_id, CAST(round(coalesce(leg.s, 0), 4) AS DOUBLE) AS score
FROM dl base LEFT JOIN leg ON leg.doc_id = base.doc_id
WHERE base.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'dup')
ORDER BY 2 DESC, base.doc_id
LIMIT {TOPK}"""
    o["q_or_high_high"] = _bm25_sql("term IN ('scan','sort')")
    o["q_or_minmatch"] = _bm25_sql("term IN ('scan','sort','merge','dup')", min_match=2)
    o["q_terms_set"] = _bm25_sql("term IN ('batch','merge')")
    o["q_prefix"] = _bm25_sql("term LIKE 's%'")
    o["q_range"] = _bm25_sql("term > 'query' AND term <= 'spark'")
    o["q_wildcard"] = _bm25_sql("term LIKE 's_a%'")
    o["q_fuzzy"] = _bm25_sql(
        "levenshtein(term, 'scam') <= 1",
        leg_boost="(1.0 - levenshtein(tf.term, 'scam') / least(length(tf.term), 4))",
    )
    o["q_fuzzy_prefix"] = _bm25_sql(
        "term LIKE 's%' AND levenshtein(substr(term, 2), 'cam') <= 1",
        # similarity length includes the prefix: min(|term|, |'s'|+|'cam'|)
        leg_boost="(1.0 - levenshtein(substr(tf.term, 2), 'cam') / least(length(tf.term), 4))",
    )
    o["q_phrase"] = _phrase_sql(("fast", "scan"))
    o["q_phrase_sumidf"] = _phrase_sum_sql(("fast", "scan"))
    # Phrase nested under And: phrase leg (sum-of-member-idf stats) + term
    # leg, conjunction with kSum score merge
    _ph = " fast  scan "
    o["q_and_phrase_term"] = f"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
  FROM documents
),
norm AS (
  SELECT doc_id, ' ' || array_to_string(toks, '  ') || ' ' AS s,
         len(toks)::DOUBLE AS dl
  FROM base
),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM norm WHERE dl > 0),
tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY 1),
q AS (SELECT unnest(['fast', 'scan']) AS term),
idfs AS (
  SELECT sum(ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) AS idf_sum
  FROM q JOIN dfreq d USING (term) CROSS JOIN st
),
pm AS (
  SELECT doc_id, dl,
         ((length(s) - length(replace(s, '{_ph}', ''))) / length('{_ph}'))::DOUBLE AS tf
  FROM norm WHERE s LIKE '%{_ph}%'
),
ps AS (
  SELECT pm.doc_id,
         2.2 * idfs.idf_sum * pm.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * pm.dl / st.avgdl + pm.tf) AS s_p
  FROM pm CROSS JOIN st CROSS JOIN idfs
),
tfm AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM tok WHERE term = 'merge' GROUP BY 1),
ts AS (
  SELECT tfm.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tfm.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * norm.dl / st.avgdl + tfm.tf) AS s_t
  FROM tfm
  JOIN dfreq d ON d.term = 'merge'
  JOIN norm ON norm.doc_id = tfm.doc_id
  CROSS JOIN st
)
SELECT ps.doc_id, CAST(round(s_p + s_t, 4) AS DOUBLE) AS score
FROM ps JOIN ts ON ts.doc_id = ps.doc_id
ORDER BY s_p + s_t DESC, ps.doc_id
LIMIT {TOPK}"""
    # lifecycle invariants: an appended (two-generation) index and a
    # consolidated (merged-segment) index must both score EXACTLY like the
    # single-build engine — the oracle is the plain single-corpus BM25
    o["q_append_term"] = _bm25_sql("term = 'scan'")
    o["q_consolidate_term"] = _bm25_sql("term = 'scan'")
    o["q_multi_order"] = f"""{_BM25_CTE},
m AS (
  SELECT tf.doc_id,
         sqrt(tf.tf) * (ln((st.n + 1) / (d.df + 1)) + 1) AS s_tfidf,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s_bm25
  FROM tf
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
  WHERE tf.term = 'scan'
)
SELECT doc_id, CAST(round(s_tfidf, 4) AS DOUBLE) AS s_tfidf,
       CAST(round(s_bm25, 4) AS DOUBLE) AS s_bm25
FROM m
ORDER BY s_tfidf DESC, s_bm25 DESC, doc_id
LIMIT {TOPK}"""
    o["q_tfidf_term"] = _tfidf_sql("term = 'scan'")
    o["q_tfidf_or"] = _tfidf_sql("term IN ('sort','merge')")
    o["q_range_incl"] = _bm25_sql("term >= 'merge' AND term <= 'query'")
    o["q_terms_minmatch"] = _bm25_sql("term IN ('scan','sort','batch')", min_match=2)
    # min_match = 0: every doc matches — constant 1.0 for the Or collapse,
    # 0.0 for by_terms whose only term hits nothing
    o["q_or_minmatch0"] = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(1.0 AS DOUBLE) AS score "
        "FROM documents"
    )
    o["q_terms_minmatch0"] = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(0.0 AS DOUBLE) AS score "
        "FROM documents"
    )
    o["q_same_position_fields"] = f"""{_TWO_FIELD_CTE},
m AS (
  SELECT doc_id,
         len(list_filter(toks[1:6], x -> x = 'scan'))::DOUBLE AS tf
  FROM t
  WHERE len(list_filter(toks[1:6], x -> x = 'scan')) > 0
),
dfp AS (SELECT count(*)::DOUBLE AS v FROM m)
SELECT doc_id,
       CAST(round((2.2 * ln(1 + (bst.n - dfp.v + 0.5) / (dfp.v + 0.5))) * m.tf
         / ((1.2*(1-0.75)) + (1.2*0.75) * bdl.dl / bst.avgdl + m.tf),
         4) AS DOUBLE) AS score
FROM m JOIN bdl USING (doc_id) CROSS JOIN bst CROSS JOIN dfp
ORDER BY score DESC, doc_id
LIMIT {TOPK}"""
    o["q_boost_scorer"] = f"""{_TOKS_CTE}
SELECT doc_id, CAST(2.0 AS DOUBLE) AS score
FROM t WHERE list_contains(toks, 'scan')
ORDER BY doc_id LIMIT {TOPK}"""
    o["q_same_position_empty"] = (
        "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score WHERE 1=0"
    )
    o["q_batch_topk"] = f"""
SELECT * FROM (
  SELECT 'qa' AS query, doc_id, score FROM ({_bm25_sql("term = 'scan'")})
  UNION ALL
  SELECT 'qb' AS query, doc_id, score FROM ({_bm25_sql("term IN ('sort','merge')")})
)
ORDER BY query, score DESC, doc_id"""

    # OFFS highlight: top-k docs of Or(scan, dup), then the first-occurrence
    # byte offset of each present query term. Offsets are recomputed in SQL
    # independently: replacing every non-[a-z0-9] char of the lowered text
    # with ONE space preserves positions, so instr of ' term ' in the
    # space-padded string gives the 0-based token start as instr-1 (0 = absent).
    o["q_highlight_offsets"] = f"""{_BM25_CTE},
q AS (SELECT term FROM dfreq WHERE term IN ('scan','dup')),
leg AS (
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
topk AS (
  SELECT doc_id FROM (
    SELECT leg.doc_id, sum(leg.s) AS s_sum FROM leg GROUP BY leg.doc_id
  ) ORDER BY s_sum DESC, doc_id LIMIT {TOPK}
),
hl AS (
  SELECT t.doc_id, q.term,
         instr(' ' || regexp_replace(lower(d.text), '[^a-z0-9]', ' ', 'g') || ' ',
               ' ' || q.term || ' ') - 1 AS start
  FROM topk t JOIN documents d ON d.doc_id = t.doc_id CROSS JOIN q
)
SELECT doc_id, term, CAST(start AS BIGINT) AS start,
       CAST(start + length(term) AS BIGINT) AS "end"
FROM hl WHERE start >= 0
ORDER BY doc_id, term"""

    # PAY payloads: BM25 top-k of Or(scan, dup) (same legs as the highlight
    # oracle), then one row per query-term occurrence in those docs with its
    # 1-based token position and the corpus's payload formula
    o["q_payloads"] = f"""{_BM25_CTE},
q AS (SELECT term FROM dfreq WHERE term IN ('scan','dup')),
leg AS (
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
topk AS (
  SELECT doc_id FROM (
    SELECT leg.doc_id, sum(leg.s) AS s_sum FROM leg GROUP BY leg.doc_id
  ) ORDER BY s_sum DESC, doc_id LIMIT {TOPK}
),
pp AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term,
         generate_subscripts(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), 1) AS pos
  FROM documents
)
SELECT t.doc_id, pp.term, pp.pos::BIGINT AS pos,
       ((t.doc_id * 7 + pp.pos * 13) % 1000)::BIGINT AS payload
FROM topk t JOIN pp ON pp.doc_id = t.doc_id
WHERE pp.term IN ('scan','dup')
ORDER BY t.doc_id, pp.term, pp.pos"""

    # Thai segmentation: same BM25 body over the translated-to-Thai token
    # stream (one token per consonant, one per Thai-digit run — the grapheme
    # cluster approximation of dictionary-less ICU segmentation)
    th_cte = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(
           translate(lower(text), '{_THAI_SRC}', '{_THAI_DST}'),
           '[ก-ฮ]|[๐-๙]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""
    o["q_term_th"] = _bm25_sql(f"term = '{_THAI_DST[18]}'", cte=th_cte)

    # one collation-key token per doc: the tailored key replaces å/ä/ö
    # (themselves translate()d from a/e/o) with the post-z sort surrogates
    # 'z'+chr(127)+'1..3' — for the all-ASCII corpus the NFKD/casefold steps
    # of the analyzer are identity, so the SQL replace chain IS the key
    sv_cte = """
WITH tok AS (
  SELECT doc_id,
         replace(replace(replace(
           translate(lower(text), 'aeo', 'åäö'),
           'å', 'z' || chr(127) || '1'),
           'ä', 'z' || chr(127) || '2'),
           'ö', 'z' || chr(127) || '3') AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""
    o["q_collation_sv"] = _bm25_sql("term > 'z'", cte=sv_cte)

    # Danish: same replace chain as _da_index + the analyzer's longest-first
    # tailoring ("aa" contraction FIRST, then \u00e6/\u00f8 surrogates) —
    # SQL replace() is left-to-right non-overlapping, exactly the analyzer's
    # regex alternation semantics
    da_cte = """
WITH tok AS (
  SELECT doc_id,
         replace(replace(replace(
           replace(translate(lower(text), 'eo', '\u00e6\u00f8'), 'a', 'aa'),
           'aa', 'z' || chr(127) || '3'),
           '\u00e6', 'z' || chr(127) || '1'),
           '\u00f8', 'z' || chr(127) || '2') AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n, sum(dl)/count(*) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""
    o["q_collation_da"] = _bm25_sql("term > 'z' || chr(127) || '3'", cte=da_cte)

    o["q_term_title_field"] = f"""{_TWO_FIELD_CTE}
SELECT doc_id, CAST(round(s, 4) AS DOUBLE) AS score
FROM ({_field_leg_sql('t', 'scan')})
ORDER BY s DESC, doc_id
LIMIT {TOPK}"""
    o["q_or_two_fields"] = f"""{_TWO_FIELD_CTE},
legs AS (
  {_field_leg_sql('b', 'merge')}
  UNION ALL
  {_field_leg_sql('t', 'scan')}
)
SELECT doc_id, CAST(round(s_sum, 4) AS DOUBLE) AS score
FROM (SELECT doc_id, sum(s) AS s_sum FROM legs GROUP BY doc_id)
ORDER BY s_sum DESC, doc_id
LIMIT {TOPK}"""

    o["q_token_stats"] = f"""{_TOKS_CTE}
SELECT doc_id, len(toks)::BIGINT AS n_tokens, len(list_distinct(toks))::BIGINT AS n_unique,
       len(regexp_extract_all(text, '{textops.BPE_ISH}'))::BIGINT AS n_subtokens
FROM t JOIN documents USING (doc_id)"""
    # winnowing (Schleimer et al.): k=5 token grams, window=4 minima —
    # same md5-derived 32-bit hash as the Spark plan (_hash32_col)
    o["q_winnow_fp"] = f"""{_TOKS_CTE},
g AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, greatest(len(toks) - 5, 0)),
           i -> CAST('0x' || substr(md5(array_to_string(toks[i+1:i+5], ' ')), 1, 8) AS BIGINT)
         ) AS hs
  FROM t
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(hs) - 4, 0)),
           j -> list_min(hs[j+1:j+4])
         )) AS fps
  FROM g
)
SELECT doc_id, unnest(fps)::BIGINT AS fp FROM w"""
    o["q_quality"] = f"""{_TOKS_CTE}
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       CAST(round(length(array_to_string(toks, ''))::DOUBLE / greatest(len(toks), 1), 4) AS DOUBLE) AS mean_token_len,
       CAST(round(length(array_to_string(toks, ''))::DOUBLE / greatest(length(text), 1), 4) AS DOUBLE) AS alnum_ratio,
       (CASE WHEN len(toks) >= 5 THEN 1 ELSE 0 END)::BIGINT AS len_ok
FROM t JOIN documents USING (doc_id)"""
    o["q_lang_id"] = f"""{_TOKS_CTE}
SELECT doc_id,
       CAST(round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                  / greatest(len(toks), 1), 4) AS DOUBLE) AS stopword_ratio,
       CASE WHEN len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                 / greatest(len(toks), 1) >= 0.05 THEN 'en' ELSE 'unk' END AS lang_guess
FROM t"""
    o["q_fingerprint"] = f"""{_TOKS_CTE}
SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t"""
    o["q_exact_dups"] = f"""{_TOKS_CTE}
SELECT md5(array_to_string(toks, ' ')) AS fp, count(*)::BIGINT AS dup_count, min(doc_id)::BIGINT AS keep_id
FROM t GROUP BY 1 HAVING count(*) > 1"""
    o["q_jaccard_pairs"] = f"""{_shingle_cte(3)},
sizes AS (SELECT doc_id, count(*)::BIGINT AS set_size FROM sh GROUP BY 1),
pairs AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a::BIGINT AS a, b::BIGINT AS b,
       CAST(round(inter::DOUBLE / (sa.set_size + sb.set_size - inter), 4) AS DOUBLE) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = pairs.a JOIN sizes sb ON sb.doc_id = pairs.b
ORDER BY inter::DOUBLE / (sa.set_size + sb.set_size - inter) DESC, a, b
LIMIT 20"""
    o["q_minhash_sig"] = _minhash_sql(8)
    o["q_minhash_lsh_pairs"] = _minhash_lsh_sql_full(8, 4, max_bucket=64)
    o["q_simhash"] = _simhash_sql()
    o["q_column_exists"] = "SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL"
    o["q_binary_meta"] = (
        "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS content_md5 FROM documents"
    )
    o["q_cosine_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id::BIGINT AS vec_id,
       CAST(round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS DOUBLE) AS cos_sim
FROM e CROSS JOIN q
ORDER BY list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC, vec_id
LIMIT 10"""
    o["q_cosine_pairs"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT l.vec_id::BIGINT AS a, r.vec_id::BIGINT AS b,
       CAST(round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 4) AS DOUBLE) AS cos_sim
FROM e l JOIN e r ON l.vec_id < r.vec_id
WHERE CAST(round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 4) AS DOUBLE) >= 0.35"""
    o["q_same_position_syn"] = _bm25_sql("term = 'scan'")
    o["q_term_text_analyzer"] = _bm25_sql("term = 'custom'", cte=_text_tok_cte())
    o["q_text_edge_ngram"] = _bm25_sql("term = 'cus'", cte=_text_edge_tok_cte())
    o["q_phrase_variadic"] = _phrase_regex_sql(" fast  s[a-z0-9]* ")
    o["q_fuzzy_transpose"] = _bm25_sql(
        "damerau_levenshtein(term, 'saprk') <= 1",
        leg_boost="(1.0 - damerau_levenshtein(tf.term, 'saprk') / least(length(tf.term), 5))",
    )
    o["q_numeric_range"] = f"""
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE n_chars >= 200 AND n_chars < 400 ORDER BY doc_id LIMIT {TOPK}"""
    # deletes: stats over ALL docs (stale until consolidation purge, matching
    # the reference's document_mask), matches filtered to live docs
    o["q_deletes_term"] = _bm25_sql(
        "term = 'scan'", where_extra="AND leg.doc_id % 7 <> 3"
    )
    # ngram similarity, 3 ngrams at threshold 2/3: L>=2 iff some ordered pair
    # exists, L=3 iff the ordered triple exists; score = L/3 (the pairwise
    # EXISTS expansion is exact for N=3)
    o["q_ngram_similarity"] = f"""{_TOKS_CTE},
tp AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM t),
a AS (SELECT doc_id, pos FROM tp WHERE term = 'fast'),
b AS (SELECT doc_id, pos FROM tp WHERE term = 'scan'),
c AS (SELECT doc_id, pos FROM tp WHERE term = 'merge'),
l3 AS (SELECT DISTINCT a.doc_id FROM a
       JOIN b ON b.doc_id = a.doc_id AND b.pos > a.pos
       JOIN c ON c.doc_id = b.doc_id AND c.pos > b.pos),
l2 AS (SELECT DISTINCT doc_id FROM (
       SELECT a.doc_id FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos > a.pos
       UNION SELECT a.doc_id FROM a JOIN c ON c.doc_id = a.doc_id AND c.pos > a.pos
       UNION SELECT b.doc_id FROM b JOIN c ON c.doc_id = b.doc_id AND c.pos > b.pos))
SELECT doc_id, CAST(round(CASE WHEN doc_id IN (SELECT doc_id FROM l3)
                               THEN 1.0 ELSE 2.0/3.0 END, 4) AS DOUBLE) AS score
FROM l2
ORDER BY score DESC, doc_id
LIMIT {TOPK}"""
    # nested child->parent join: child BM25 over the plain documents corpus
    # (synthetic parents have empty text, so they drop out of stats on both
    # sides), folded per 5-doc parent group with min_children=2
    o["q_nested_min"] = f"""{_BM25_CTE},
q AS (SELECT term FROM dfreq WHERE term = 'scan'),
leg AS (
  SELECT tf.doc_id,
         (2.2 * ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))) * tf.tf
           / ((1.2*(1-0.75)) + (1.2*0.75) * dl.dl / st.avgdl + tf.tf) AS s
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dfreq d ON d.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
)
SELECT gid, CAST(round(s_sum, 4) AS DOUBLE) AS score
FROM (
  SELECT leg.doc_id // 5 AS gid, sum(leg.s) AS s_sum, count(*) AS c
  FROM leg GROUP BY 1
)
WHERE c >= 2
ORDER BY s_sum DESC, gid
LIMIT {TOPK}"""
    # multimodal: the engine decodes REAL BMP/WAV/container bytes; the oracle
    # recomputes the features arithmetically from doc_id (the synthesizers'
    # parameterization), so a decode bug breaks the hash match
    o["q_image_meta"] = """
SELECT doc_id,
       (54 + ((3 * (8 + doc_id % 24) + 3) // 4 * 4) * (8 + (doc_id * 7) % 24))::BIGINT AS n_bytes,
       (8 + doc_id % 24)::INT AS width,
       (8 + (doc_id * 7) % 24)::INT AS height,
       CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_b
FROM documents"""
    o["q_audio_meta"] = """
SELECT doc_id,
       8000::INT AS sample_rate,
       (100 + doc_id % 400)::BIGINT AS n_samples,
       CAST(round(1000.0 * (100 + doc_id % 400) / 8000.0, 4) AS DOUBLE) AS duration_ms,
       CAST(256 + (doc_id * 37) % 16000 AS DOUBLE) AS rms
FROM documents"""
    o["q_video_frames"] = """
SELECT doc_id,
       (2 + doc_id % 7)::INT AS n_frames,
       unnest(range(0, 2 + doc_id % 7, 2))::INT AS frame_idx
FROM documents"""

    # ANN: the engine's LSH is deterministic (seeded LCG hyperplanes), so the
    # oracle replays the identical geometry in SQL — a FULL value oracle, not
    # a rows-only check
    planes8 = vecops.hyperplanes(64, 8, 11)
    o["q_ann_lsh_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
b AS (SELECT vec_id, v, {_bucket_expr('v', planes8)} AS bucket FROM e),
qb AS (SELECT {_bucket_expr('qv', planes8)} AS qbits FROM q),
cand AS (
  SELECT vec_id, v FROM b CROSS JOIN qb
  WHERE bit_count(xor(bucket, qbits)) <= 1
)
SELECT vec_id::BIGINT AS vec_id,
       CAST(round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS DOUBLE) AS cos_sim
FROM cand CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 10"""
    # IVF: the oracle REPLAYS the whole deterministic pipeline in SQL —
    # identical LCG init centroids (literals), the same rounded algebraic
    # L2 assignment, the same one-pass Lloyd mean update (rounded to 6dp on
    # both sides, which absorbs cross-engine float summation-order noise),
    # the same 2-of-8 probe selection, exact cosine rerank
    ivf_c0 = [[round(v, 6) for v in c] for c in vecops.hyperplanes(64, 8, 23)]
    c0_vals = ", ".join(f"({i}, {_plane_sql(c)}::DOUBLE[])" for i, c in enumerate(ivf_c0))
    o["q_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
c0 AS (SELECT * FROM (VALUES {c0_vals}) t(lid, c)),
d0 AS (
  SELECT e.vec_id, e.v, c0.lid,
         round(list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c0.c)
               + list_dot_product(c0.c, c0.c), 6) AS d
  FROM e CROSS JOIN c0
),
a0 AS (
  SELECT vec_id, v, lid FROM (
    SELECT vec_id, v, lid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS rn
    FROM d0
  ) WHERE rn = 1
),
m AS (
  -- exact fixed-point mean (matches vecops.ivf_centroids): scaled integer
  -- sums are associative, so both engines compute the identical double
  SELECT lid, pos,
         round(sum(CAST(round(val * 1000000) AS BIGINT)) / (count(*) * 1000000.0), 6) AS mv
  FROM (SELECT lid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a0)
  GROUP BY 1, 2
),
c1 AS (
  SELECT c0.lid, coalesce(r.lst, c0.c) AS c
  FROM c0 LEFT JOIN (SELECT lid, list(mv ORDER BY pos) AS lst FROM m GROUP BY lid) r
  USING (lid)
),
d1 AS (
  SELECT e.vec_id, e.v, c1.lid,
         round(list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, c1.c)
               + list_dot_product(c1.c, c1.c), 6) AS d
  FROM e CROSS JOIN c1
),
a1 AS (
  SELECT vec_id, v, lid FROM (
    SELECT vec_id, v, lid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS rn
    FROM d1
  ) WHERE rn = 1
),
probe AS (
  SELECT lid FROM (
    SELECT c1.lid,
           round(list_dot_product(qv, qv) - 2*list_dot_product(qv, c1.c)
                 + list_dot_product(c1.c, c1.c), 6) AS d
    FROM c1 CROSS JOIN q
  ) ORDER BY d, lid LIMIT 2
),
cand AS (SELECT vec_id, v FROM a1 WHERE lid IN (SELECT lid FROM probe))
SELECT vec_id::BIGINT AS vec_id,
       CAST(round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS DOUBLE) AS cos_sim
FROM cand CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 10"""

    planes6 = vecops.hyperplanes(64, 6, 11)
    o["q_lsh_bucket_cand"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, {_bucket_expr('v', planes6)} AS bucket FROM e),
sz AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1),
kept AS (SELECT vec_id, b.bucket FROM b JOIN sz USING (bucket) WHERE c <= 32)
SELECT l.vec_id::BIGINT AS a, r.vec_id::BIGINT AS b, l.bucket AS bucket
FROM kept l JOIN kept r ON l.bucket = r.bucket AND l.vec_id < r.vec_id"""
    # embedding-cosine near-dup: same planes/cap as q_lsh_bucket_cand,
    # exact cosine rerank over the candidate pairs, keep >= 0.3
    o["q_cosine_near_dup"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, {_bucket_expr('v', planes6)} AS bucket FROM e),
sz AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1),
kept AS (SELECT vec_id, b.bucket FROM b JOIN sz USING (bucket) WHERE c <= 32),
cand AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM kept l JOIN kept r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT a::BIGINT AS a, b::BIGINT AS b,
       CAST(round(list_dot_product(va.v, vb.v)
            / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 4) AS DOUBLE) AS cos_sim
FROM cand JOIN e va ON va.vec_id = cand.a JOIN e vb ON vb.vec_id = cand.b
WHERE round(list_dot_product(va.v, vb.v)
      / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 4) >= 0.3"""
    return o

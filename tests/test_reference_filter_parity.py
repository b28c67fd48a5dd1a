"""Replays of the reference's FILTER test expectations (selection semantics:
which docs match) on the reference's own test corpora.

This extends the scorer rank-parity suite (test_reference_rank_parity.py)
to the filter test families: every (query, expected doc-id set) pair below
is transcribed from the reference's CheckQuery calls, and the corpus is the
reference's own resource file recreated inline. Doc ids are 1-based
insertion order, exactly the reference's sequential-segment ids
(type_limits.hpp:62-75: doc 0 invalid, first inserted doc = 1).

Pinned here:

* ``levenshtein_filter_test.cpp`` TEST_P(by_edit_distance_test_case,
  test_filter) + test_order over ``tests/resources/
  levenshtein_sequential.json`` — plain Levenshtein, Damerau (OSA), the
  exact-prefix variant, the ``max_terms`` selection cap (0 = UNLIMITED,
  ties to the larger term per top_terms_collector.hpp:64-69), and the
  default parametric-description provider's distance limits (d <= 4, and
  d <= 3 with transpositions; anything above matches NOTHING —
  levenshtein_default_pdp.hpp:24-28, levenshtein_filter.cpp:71-75).
"""

import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt

# tests/resources/levenshtein_sequential.json: seq -> title (the indexed
# text field; one single-token title per doc, doc id = seq + 1)
LEV_CORPUS = {
    0: "aaaaaaaaa", 1: "bbbbaaaaa", 2: "ababababa", 3: "bababababa",
    4: "aaaaaa", 5: "abcdbacd", 6: "aaaaaa", 7: "aaaaaabbb",
    8: "aaabbbaaa", 9: "aaabbbaa", 10: "aaaaaaaaaa", 11: "addaabbbbc",
    12: "aaaaaa", 13: "bbbbbb", 14: "abcabc", 15: "aaaaa",
    16: "ababab", 17: "baabba", 18: "aaaacc", 19: "ccaacc",
    20: "acaaaaa", 21: "aaabaacaaa", 22: "aaaccccbcd", 23: "aaabcdef",
    24: "aabadcfe", 25: "cccaaaaccc", 26: "aa", 27: "a",
    28: "b", 29: "bca", 30: "def", 31: "aaaw",
    32: "aaaaaaaaaaaaaaaa", 33: "bbbbbbb",
}


@pytest.fixture(scope="module")
def lev_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_lev"))
    rows = [(str(seq + 1), title) for seq, title in LEV_CORPUS.items()]
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=1).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def matched(index, f):
    s = Searcher(index)
    return sorted(int(r["doc_key"]) for r in s.search(f, k=100).collect())


# (term, max_distance, max_terms, with_transpositions, prefix, expected docs)
# transcribed 1:1 from levenshtein_filter_test.cpp test_filter (l:320-505)
# and test_order (l:148-318).
LEV_CASES = [
    # empty target, d=0 — matches nothing (no empty term in the dict)
    ("", 0, 0, False, "", []),
    # --- exact-prefix variant (levenshtein_filter.cpp:241-265) -------------
    ("", 0, 1024, False, "aaaw", [32]),
    ("w", 0, 1024, False, "aaa", [32]),
    ("w", 0, 1024, True, "aaa", [32]),
    ("", 0, 1024, False, "", []),
    ("aa", 1, 1024, False, "aaabbba", [9, 10]),
    ("", 1, 1024, False, "", [28, 29]),
    ("ca", 2, 1024, False, "b", [29, 30]),
    ("aa", 2, 1024, False, "aa", [5, 7, 13, 16, 19, 27, 32]),
    ("", 3, 1024, False, "aaa", [5, 7, 13, 16, 19, 32]),
    ("", 3, 1024, True, "aaa", [5, 7, 13, 16, 19, 32]),
    # --- plain Levenshtein --------------------------------------------------
    ("aa", 0, 1024, False, "", [27]),
    ("aa", 0, 0, False, "", [27]),
    ("aa", 0, 10, False, "", [27]),
    ("ababab", 0, 10, False, "", [17]),
    ("ababab", 0, 0, False, "", [17]),
    ("", 1, 1024, False, "", [28, 29]),
    ("", 1, 0, False, "", [28, 29]),
    ("", 1, 10, False, "", [28, 29]),  # test_order l:252
    ("", 1, 1, False, "", [29]),  # max_terms=1 keeps the LARGER tied term
    ("aa", 1, 1024, False, "", [27, 28]),
    ("aa", 1, 0, False, "", [27, 28]),
    ("ababab", 1, 1024, False, "", [17]),
    ("", 2, 1024, False, "", [27, 28, 29]),
    ("", 2, 0, False, "", [27, 28, 29]),
    ("", 2, 1, False, "", [29]),
    ("", 2, 2, False, "", [28, 29]),  # the two d=1 terms outrank the d=2 one
    ("aa", 2, 1024, False, "", [27, 28, 29, 30, 32]),
    ("aa", 2, 0, False, "", [27, 28, 29, 30, 32]),
    ("ababab", 2, 1024, False, "", [17]),
    ("ababab", 2, 0, False, "", [17]),
    ("", 3, 1024, False, "", [27, 28, 29, 30, 31]),
    ("", 3, 0, False, "", [27, 28, 29, 30, 31]),
    ("aaaa", 3, 10, False, "", [5, 7, 13, 16, 17, 18, 19, 21, 27, 28, 30, 32]),
    ("aaaa", 3, 0, False, "", [5, 7, 13, 16, 17, 18, 19, 21, 27, 28, 30, 32]),
    ("ababab", 3, 1024, False, "", [3, 5, 7, 13, 14, 15, 16, 17, 32]),
    ("ababab", 3, 0, False, "", [3, 5, 7, 13, 14, 15, 16, 17, 32]),
    ("", 4, 1024, False, "", [27, 28, 29, 30, 31, 32]),
    ("", 4, 0, False, "", [27, 28, 29, 30, 31, 32]),
    ("ababab", 4, 1024, False, "",
     [3, 4, 5, 6, 7, 10, 13, 14, 15, 16, 17, 18, 19, 21, 27, 30, 32, 34]),
    ("ababab", 4, 0, False, "",
     [3, 4, 5, 6, 7, 10, 13, 14, 15, 16, 17, 18, 19, 21, 27, 30, 32, 34]),
    # default provider supports Levenshtein only up to distance 4
    ("", 5, 1024, False, "", []),
    ("", 5, 0, False, "", []),
    ("", 6, 1024, False, "", []),
    # --- Damerau-Levenshtein (OSA) ------------------------------------------
    ("aa", 0, 1024, True, "", [27]),
    ("aa", 0, 0, True, "", [27]),
    ("ababab", 0, 1024, True, "", [17]),
    ("", 1, 1024, True, "", [28, 29]),
    ("", 1, 0, True, "", [28, 29]),
    ("aa", 1, 1024, True, "", [27, 28]),
    ("ababab", 1, 1024, True, "", [17]),
    ("aa", 2, 1024, True, "", [27, 28, 29, 30, 32]),
    ("aa", 2, 0, True, "", [27, 28, 29, 30, 32]),
    ("ababab", 2, 1024, True, "", [17, 18]),  # "baabba" via transposition
    ("ababab", 2, 0, True, "", [17, 18]),
    ("", 3, 1024, True, "", [27, 28, 29, 30, 31]),
    ("ababab", 3, 1024, True, "", [3, 5, 7, 13, 14, 15, 16, 17, 18, 32]),
    ("ababab", 3, 0, True, "", [3, 5, 7, 13, 14, 15, 16, 17, 18, 32]),
    # ... and Damerau only up to distance 3
    ("", 4, 1024, True, "", []),
    ("", 4, 0, True, "", []),
    ("", 5, 1024, True, "", []),
]


@pytest.mark.parametrize("term,maxd,max_terms,transpose,prefix,expected", LEV_CASES)
def test_by_edit_distance_reference_selection(
    lev_index, term, maxd, max_terms, transpose, prefix, expected
):
    f = flt.Fuzzy(
        term,
        max_distance=maxd,
        max_terms=max_terms,
        with_transpositions=transpose,
        prefix=prefix,
    )
    assert matched(lev_index, f) == expected


# ---------------------------------------------------------------------------
# prefix_filter_test.cpp by_prefix_sequential (simple_sequential.json) and
# wildcard_filter_test.cpp simple_sequential (simple_sequential_utf8.json),
# and range_filter_test.cpp by_range_sequential (simple_sequential.json).
#
# The corpora are keyword-field docs (one term per present field, missing
# JSON fields absent from the doc); fields are indexed with the identity
# analyzer `norm:none`. Doc ids are again 1-based insertion order.
# ---------------------------------------------------------------------------

# (seq, name, duplicated, prefix, utf8); "same" is "xyz" on every doc.
# tests/resources/simple_sequential_utf8.json; simple_sequential.json is the
# same corpus minus the utf8 values and minus seq 9/10's prefix values.
UTF8_SEQ = [
    (0, 'A', 'abcd', 'abcd', 'пуй'),
    (1, 'B', 'vczc', None, 'хублот'),
    (2, 'C', 'vczc', None, 'проглот'),
    (3, 'D', None, 'abcde', None),
    (4, 'E', 'abcd', None, None),
    (5, 'F', None, None, None),
    (6, 'G', None, None, None),
    (7, 'H', 'vczc', None, None),
    (8, 'I', None, 'bcd', None),
    (9, 'J', None, 'ab\\%', None),
    (10, 'K', 'abcd', 'ab\\\\%', None),
    (11, 'L', None, None, None),
    (12, 'M', None, None, None),
    (13, 'N', 'vczc', None, 'обама'),
    (14, 'O', None, None, None),
    (15, 'P', None, 'abde', None),
    (16, 'Q', 'vczc', None, 'трамп'),
    (17, 'R', None, None, None),
    (18, 'S', 'vczc', None, None),
    (19, 'T', None, None, None),
    (20, 'U', 'abcd', 'abc', None),
    (21, 'V', None, None, None),
    (22, 'W', None, None, None),
    (23, 'X', 'vczc', 'bateradsfsfasdf', 'меркель'),
    (24, 'Y', None, None, None),
    (25, 'Z', None, 'abcdrer', 'вий'),
    (26, '~', 'abcd', None, None),
    (27, '!', None, None, None),
    (28, '@', None, 'ahtrtrt', None),
    (29, '#', None, None, None),
    (30, '$', 'abcd', 'abcy', None),
    (31, '%', None, 'abcy', None),
]

SIMPLE_SEQ = [
    (seq, name, dup, None if seq in (9, 10) else pfx, None)
    for seq, name, dup, pfx, _ in UTF8_SEQ
]

KEYWORD_FIELDS = (
    ("name", "name", "norm:none"),
    ("same", "same", "norm:none"),
    ("duplicated", "duplicated", "norm:none"),
    ("prefix", "prefix", "norm:none"),
    ("utf8", "utf8", "norm:none"),
)


def _build_seq(spark, path, rows):
    df = spark.createDataFrame(
        [
            (str(seq + 1), name, "xyz", dup, pfx, u8)
            for seq, name, dup, pfx, u8 in rows
        ],
        "doc_key string, name string, same string, duplicated string, "
        "prefix string, utf8 string",
    )
    IndexBuilder(spark, path, analyzer="simple", num_segments=1).build(
        df, key_col="doc_key", fields=KEYWORD_FIELDS
    )
    return IndexReader(spark, path)


@pytest.fixture(scope="module")
def seq_kw_index(spark, tmp_path_factory):
    return _build_seq(
        spark, str(tmp_path_factory.mktemp("refpar_seq_kw")), SIMPLE_SEQ
    )


@pytest.fixture(scope="module")
def utf8_kw_index(spark, tmp_path_factory):
    return _build_seq(
        spark, str(tmp_path_factory.mktemp("refpar_utf8_kw")), UTF8_SEQ
    )


ALL32 = list(range(1, 33))

# (field, prefix, expected) — prefix_filter_test.cpp:150-230
PREFIX_CASES = [
    ("same1", "xyz", []),  # invalid field
    ("same", "xyz_invalid", []),  # invalid prefix
    ("same", "xyz", ALL32),
    # empty prefix matches every doc HAVING the field (not every doc)
    ("duplicated", "", [1, 2, 3, 5, 8, 11, 14, 17, 19, 21, 24, 27, 31]),
    ("duplicated", "a", [1, 5, 11, 21, 27, 31]),
    ("name", "!", [28]),
    ("prefix", "b", [9, 24]),
    ("duplicated", "vcz", [2, 3, 8, 14, 17, 19, 24]),
    ("prefix", "abc", [1, 4, 21, 26, 31, 32]),
    ("prefix", "bateradsfsfasdf", [24]),
]


@pytest.mark.parametrize("field,prefix,expected", PREFIX_CASES)
def test_by_prefix_reference_selection(seq_kw_index, field, prefix, expected):
    f = flt.Prefix(prefix, field=field)
    assert matched(seq_kw_index, f) == expected


# (low, high, include_low, include_high, expected) over field "name" —
# range_filter_test.cpp by_range_sequential:620-1005. UNBOUNDED -> None.
RANGE_NAME_CASES = [
    (None, None, True, True, ALL32),  # no bounds: every doc with the field
    ("", None, True, True, ALL32),  # ["";..)
    ("", None, False, True, ALL32),  # ("";..)
    ("", "", True, True, []),  # ["";""]
    ("A", None, True, True, list(range(1, 28))),  # [A;..) -> A..Z, ~
    ("A", None, False, True, list(range(2, 28))),  # (A;..)
    (None, "C", True, False, [1, 2, 28, 29, 30, 31, 32]),  # (..;C)
    (None, "C", True, True, [1, 2, 3, 28, 29, 30, 31, 32]),  # (..;C]
    ("A", "C", True, True, [1, 2, 3]),
    ("A", "B", True, True, [1, 2]),
    ("A", "B", True, False, [1]),
    ("A", "B", False, True, [2]),
    ("A", "B", False, False, []),
    ("A", "C", True, False, [1, 2]),
    ("A", "C", False, True, [2, 3]),
    ("A", "C", False, False, [2]),
    ("C", "A", True, True, []),  # inverted range
    ("~", None, True, True, [27]),  # [~;..]
    ("~", None, False, True, []),  # (~;..]
    ("a", None, False, True, [27]),  # (a;..] -> only ~ sorts above 'a'
    (None, "a", True, True, [i for i in ALL32 if i != 27]),  # [..;a]
    (None, "a", True, False, [i for i in ALL32 if i != 27]),  # [..;a)
    ("\x7f", None, False, True, []),  # (DEL;..]
]


@pytest.mark.parametrize("low,high,il,ih,expected", RANGE_NAME_CASES)
def test_by_range_reference_selection(seq_kw_index, low, high, il, ih, expected):
    f = flt.Range(low=low, high=high, include_low=il, include_high=ih, field="name")
    assert matched(seq_kw_index, f) == expected


def test_by_range_invalid_field(seq_kw_index):
    assert matched(seq_kw_index, flt.Range(field="invalid_name")) == []


# (field, pattern, expected) — wildcard_filter_test.cpp simple_sequential
# (l:265-460) over simple_sequential_utf8.json. Patterns are the reference's
# actual pattern bytes (C++ escaping already resolved): \ escapes the next
# char, % = any run, _ = exactly one UTF-8 character.
WILDCARD_CASES = [
    ("same1", "xyz%", []),  # invalid field
    ("same", "xyz_invalid%", []),  # invalid prefix
    ("duplicated", "", []),  # empty pattern matches nothing
    # match all 32 (every "same" value is the 3-char term "xyz")
    ("same", "%", ALL32),
    ("same", "___", ALL32),
    ("same", "%_", ALL32),
    ("same", "_%", ALL32),
    ("same", "x_%", ALL32),
    ("same", "__z", ALL32),
    ("same", "%_z", ALL32),
    ("same", "x%_", ALL32),
    ("same", "x_z", ALL32),
    ("same", "x%z", ALL32),
    ("same", "_yz", ALL32),
    ("same", "%yz", ALL32),
    ("same", "xyz", ALL32),
    # escaped specials match literally (and nothing here matches)
    ("prefix", r"ab\%", []),
    ("same", r"x\_z", []),
    ("same", r"x\%z", []),
    ("same", "_", []),
    # escaped backslash then wildcard: terms starting "ab\"
    ("prefix", r"ab\\%", [10, 11]),
    ("prefix", r"ab\\\%", [10]),  # literal ab\%
    ("prefix", r"ab\\\\%", [11]),  # literal ab\\ then wildcard
    ("same", "xyz%", ALL32),
    ("duplicated", "v_z%", [2, 3, 8, 14, 17, 19, 24]),
    ("duplicated", "v%c", [2, 3, 8, 14, 17, 19, 24]),
    ("duplicated", "v%%%%%c", [2, 3, 8, 14, 17, 19, 24]),
    ("duplicated", "%c", [2, 3, 8, 14, 17, 19, 24]),
    ("duplicated", "%_c", [2, 3, 8, 14, 17, 19, 24]),
    ("prefix", "%c%", [1, 4, 9, 21, 26, 31, 32]),
    ("prefix", "%c%%", [1, 4, 9, 21, 26, 31, 32]),
    ("prefix", "%%%%c%%", [1, 4, 9, 21, 26, 31, 32]),
    ("prefix", "%%c%", [1, 4, 9, 21, 26, 31, 32]),
    ("prefix", "%%c%%", [1, 4, 9, 21, 26, 31, 32]),
    ("duplicated", "a%", [1, 5, 11, 21, 27, 31]),
    ("name", "!%", [28]),
    ("prefix", "b%", [9, 24]),
    ("duplicated", "vcz%", [2, 3, 8, 14, 17, 19, 24]),
    ("duplicated", "vcz%%%%%", [2, 3, 8, 14, 17, 19, 24]),
    ("prefix", "abc%", [1, 4, 21, 26, 31, 32]),
    ("prefix", "abc%%", [1, 4, 21, 26, 31, 32]),
    ("prefix", "a%d%", [1, 4, 16, 26]),
    ("prefix", "a%d%%", [1, 4, 16, 26]),
    # UTF-8 patterns: _ and the literal tail are CHARACTER-wise
    ("utf8", "%й", [1, 26]),
    ("utf8", "%%й", [1, 26]),
    ("utf8", "в%й", [26]),
    ("utf8", "в%%й", [26]),
    ("utf8", "п%", [1, 3]),
    ("utf8", "п%%", [1, 3]),
    ("prefix", "bateradsfsfasdf", [24]),  # whole word
]


@pytest.mark.parametrize("field,pattern,expected", WILDCARD_CASES)
def test_by_wildcard_reference_selection(utf8_kw_index, field, pattern, expected):
    f = flt.Wildcard(pattern, field=field)
    assert matched(utf8_kw_index, f) == expected


# ---------------------------------------------------------------------------
# terms_filter_test.cpp simple_sequential_utf8 (l:209-360): by_terms
# selection, invalid-term tolerance, and the min_match edge semantics
# (0 = every doc matches; > |terms| = unreachable).
# ---------------------------------------------------------------------------

TERMS_CASES = [
    ("same1", ("xyz",), 1, []),  # invalid field
    ("same", ("invalid_term",), 1, []),  # unknown term
    ("duplicated", (), 1, []),  # empty term set is unreachable
    ("same", ("xyz",), 1, ALL32),
    # min_match == 0 matches EVERY doc, even when no term exists
    ("same", ("invalid",), 0, ALL32),
    ("same", ("xyz", "invalid_term"), 1, ALL32),  # unknown terms ignored
    ("prefix", ("abcd", "abc", "abcy"), 1, [1, 21, 31, 32]),
    # duplicate + non-existing entries don't change the selection
    ("prefix", ("abcd", "abcd", "abc", "abcy"), 1, [1, 21, 31, 32]),
    ("prefix", ("abcd", "invalid_term", "abc", "abcy"), 1, [1, 21, 31, 32]),
    # min_match above the set size is unreachable
    ("same", ("xyz",), 2, []),
]


@pytest.mark.parametrize("field,terms,min_match,expected", TERMS_CASES)
def test_by_terms_reference_selection(utf8_kw_index, field, terms, min_match, expected):
    f = flt.Terms(terms, min_match=min_match, field=field)
    assert matched(utf8_kw_index, f) == expected


# ---------------------------------------------------------------------------
# ngram_similarity_filter_tests.cpp (l:599-1210) over ngram_similarity.json:
# 16 docs whose "field" is a pre-tokenized ngram array (array order = token
# positions); doc id = seq. Selection = longest in-order match chain L with
# L/|ngrams| >= threshold; the reference's filter_boost = L/|ngrams| is this
# engine's score (boost=1), pinned for the missed_last case.
# ---------------------------------------------------------------------------

NGRAM_CORPUS = {
    1: "at tl la as ss si ia an",
    2: "at tl la as",
    3: "la as ss si",
    4: "pa al la as",
    5: "pa al la as sa at tl la as ss si ia an at tl la as",
    6: "la ss as si",
    7: "la al ll ss",
    8: "at ss at tl la ss at tl la as",
    9: "at ss at tl",
    10: "at at ss at at tl",
    11: "at la ll ll ll ll",
    12: "at la ll ll ss ll",
    13: "at la as tl as",
    14: "at ll as at at",
    15: "ll at at at at",
    16: "ll as la tl at",
}


@pytest.fixture(scope="module")
def ngram_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_ngram"))
    rows = [(str(seq), text) for seq, text in NGRAM_CORPUS.items()]
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=1).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


NGRAM_CASES = [
    # no_match_case / no_serial_match_case
    (("ee", "we", "qq", "rr", "ff", "never_match"), 0.1, []),
    (("ee", "ss", "pa", "rr"), 0.5, []),
    # one_match_case
    (("ee", "ss", "qq", "rr", "ff", "never_match"), 0.1,
     [1, 3, 5, 6, 7, 8, 9, 10, 12]),
    # missed_last / missed_first
    (("at", "tl", "la", "as", "ll", "never_match"), 0.5, [1, 2, 5, 8, 11, 12, 13]),
    (("never_match", "at", "tl", "la", "as", "ll"), 0.5, [1, 2, 5, 8, 11, 12, 13]),
    # not_miss_match_for_tail
    (("at", "tl", "la", "as", "ll", "never_match"), 0.33, list(range(1, 15))),
    # missed_middle / missed_middle2 / missed_middle3
    (("at", "never_match", "la", "as", "ll"), 0.333,
     [1, 2, 3, 4, 5, 6, 7, 8, 11, 12, 13, 14]),
    (("at", "never_match", "never_match2", "la", "as", "ll"), 0.5,
     [1, 2, 5, 8, 11, 12, 13]),
    (("at", "never_match", "tl", "never_match2", "la", "as", "ll"), 0.28,
     list(range(1, 15))),
]


@pytest.mark.parametrize("ngrams,threshold,expected", NGRAM_CASES)
def test_by_ngram_similarity_reference_selection(
    ngram_index, ngrams, threshold, expected
):
    f = flt.NgramSimilarity(ngrams, threshold=threshold)
    assert matched(ngram_index, f) == expected


def test_by_ngram_similarity_reference_filter_boost(ngram_index):
    """missed_last_scored_test (ngram_similarity_filter_tests.cpp:901-975):
    per-doc filter_boost = longest-chain / |ngrams| must be {4/6 x4, 0.5 x3}
    over docs {1,2,5,8} and {11,12,13}."""
    s = Searcher(ngram_index)
    f = flt.NgramSimilarity(("at", "tl", "la", "as", "ll", "never_match"), threshold=0.5)
    rows = {int(r["doc_key"]): r["score"] for r in s.search(f, k=100).collect()}
    expected = {1: 4 / 6, 2: 4 / 6, 5: 4 / 6, 8: 4 / 6, 11: 0.5, 12: 0.5, 13: 0.5}
    assert set(rows) == set(expected)
    for d, b in expected.items():
        assert rows[d] == pytest.approx(b, rel=1e-6), d


# ---------------------------------------------------------------------------
# column_existence_filter_test.cpp prefix-match section (l:487-705) over
# simple_sequential_common_prefix.json: 33 docs, each a set of empty-string
# marker columns; by_column_existence(prefix_match=True) selects docs where
# ANY column named with the prefix exists. Expected docs transcribed from
# the name-column asserts.
# ---------------------------------------------------------------------------

# (seq order; name -> columns present besides "name")
COMMON_PREFIX_DOCS = [
    ("A", ("foo", "foobar", "foobaz", "collection")),
    ("B", ("koo", "koobar", "koobaz")),
    ("C", ("foo", "foobar", "foobaz")),
    ("D", ("foo", "foobaz")),
    ("E", ()), ("F", ()), ("G", ()), ("H", ()), ("I", ()),
    ("J", ("foo", "foobar", "foobaz", "collection")),
    ("K", ("foo", "foobar", "foobaz")),
    ("L", ("foo", "fookar", "foobaz", "collection")),
    ("M", ("goo", "goobar", "goobaz")),
    ("N", ("goo", "goobar", "goobaz", "collection")),
    ("O", ("goo", "goobar", "goobaz")),
    ("P", ("goo", "gooaar")),
    ("Q", ("goo", "goobar")),
    ("R", ("foo", "foobar", "column")),
    ("S", ("zoo", "foobar")),
    ("T", ("foobar",)),
    ("U", ("koobar", "foobaz")),
    ("V", ("koobar", "foobaz")),
    ("W", ("zoobar", "zoobaz")),
    ("X", ("koobar", "zoobaz")),
    ("Y", ("ioobar", "zoobaz")),
    ("Z", ("oobar", "koobaz")),
    ("~", ("oobar", "roobaz")),
    ("!", ("foobar", "foobaz")),
    ("@", ("oo", "oobar", "oobaz")),
    ("#", ("oo", "oobar", "oobaz")),
    ("$", ("oo", "oobar", "oobaz")),
    ("%", ("foo", "foobar", "foobaz")),
]

ALL_MARKER_COLS = sorted({c for _, cols in COMMON_PREFIX_DOCS for c in cols})


@pytest.fixture(scope="module")
def common_prefix_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_colex"))
    rows = [
        tuple([name] + ["" if c in cols else None for c in ALL_MARKER_COLS])
        for name, cols in COMMON_PREFIX_DOCS
    ]
    schema = "doc_key string, " + ", ".join(
        f"`{c}` string" for c in ALL_MARKER_COLS
    )
    df = spark.createDataFrame(rows, schema)
    # doc_key doubles as the (single-token) indexed text; the filter plane
    # under test is the STORED columns
    IndexBuilder(spark, path, analyzer="norm:none", num_segments=1).build(
        df, key_col="doc_key", text_col="doc_key",
        stored_cols=tuple(ALL_MARKER_COLS),
    )
    return IndexReader(spark, path)


COLEX_CASES = [
    ("foo", True, ["A", "C", "D", "J", "K", "L", "R", "S", "T", "U", "V", "!", "%"]),
    ("koob", True, ["B", "U", "V", "X", "Z"]),
    ("oob", True, ["Z", "~", "@", "#", "$"]),
    ("collection", True, ["A", "J", "L", "N"]),
    ("invalid_prefix", True, []),
    # exact-name existence (the non-prefix mode of the same test file)
    ("collection", False, ["A", "J", "L", "N"]),
    ("foo", False, ["A", "C", "D", "J", "K", "L", "R", "%"]),
    ("foobar", False, ["A", "C", "J", "K", "R", "S", "T", "!", "%"]),
    ("invalid_column", False, []),
]


@pytest.mark.parametrize("column,prefix_match,expected", COLEX_CASES)
def test_by_column_existence_reference_selection(
    common_prefix_index, column, prefix_match, expected
):
    s = Searcher(common_prefix_index)
    f = flt.ColumnExists(column, prefix_match=prefix_match)
    got = [r["doc_key"] for r in s.search(f, k=100).collect()]
    assert sorted(got) == sorted(expected)


# ---------------------------------------------------------------------------
# boolean_filter_tests.cpp or_sequential / and_sequential /
# not_standalone_sequential (l:15195-15620) over simple_sequential.json:
# group_filters semantics, explicit min_match 0 (= all docs, parts ignored),
# min_match above the part count (= empty), empty() parts, all() parts
# counting toward min_match, and standalone/conjunctive Not.
# ---------------------------------------------------------------------------

NOT_ABCD = [i for i in ALL32 if i not in (1, 5, 11, 21, 27, 31)]


def _t(field, term):
    return flt.Term(term, field=field)


BOOL_CASES = [
    (flt.Or(parts=()), []),  # empty Or
    (flt.Or(parts=(_t("name", "V"),)), [22]),
    (flt.Or(parts=(_t("name", "W"), _t("name", "C"))), [3, 23]),
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"), _t("name", "Z"))), [1, 17, 26]),
    # the reference wraps a Not inside a single-branch Or to SCOPE it: the
    # inner group is all-docs minus the set (empty here), one leg of the
    # outer disjunction — so A and Q still match
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"),
                   flt.Or(parts=(flt.Not(_t("same", "xyz")),)))),
     [1, 17]),
    # a DIRECT Not under Or, by contrast, excludes from the whole
    # disjunction (group_filters, boolean_filter.cpp:366-411)
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"), flt.Not(_t("same", "xyz")))),
     []),
    # unknown terms and unknown fields are ignored
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"), _t("name", "Z"),
                   _t("same", "invalid_term"), _t("invalid_field", "V"))),
     [1, 17, 26]),
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"), _t("name", "Z"),
                   _t("same", "xyz"), _t("same", "invalid_term"))), ALL32),
    # explicit min_match 0: all conditions satisfied -> every doc
    (flt.Or(parts=(_t("name", "V"),), min_match=0), ALL32),
    (flt.Or(parts=(), min_match=0), ALL32),
    # min_match above the part count is unreachable
    (flt.Or(parts=(_t("name", "A"), _t("name", "Q"), _t("name", "Z"),
                   _t("same", "xyz"), _t("same", "invalid_term")),
            min_match=6), []),
    # empty() parts contribute nothing
    (flt.Or(parts=(_t("name", "A"), flt.Empty())), [1]),
    (flt.Or(parts=(flt.Not(_t("name", "A")), flt.Empty())), list(range(2, 33))),
    (flt.Or(parts=(flt.Not(_t("name", "A")), _t("same", "NOT POSSIBLE"))),
     list(range(2, 33))),
    # all() parts count toward min_match: needs BOTH terms (3 alls + 2)
    (flt.Or(parts=(_t("name", "A"), flt.All(), flt.All(), flt.All(),
                   _t("duplicated", "abcd")), min_match=5), [1]),
    # ... but 9 alls alone already satisfy min_match=3 -> every doc
    (flt.Or(parts=(_t("name", "A"),) + tuple(flt.All() for _ in range(8))
            + (_t("duplicated", "abcd"),), min_match=3), ALL32),
    # And
    (flt.And(parts=()), []),
    (flt.And(parts=(_t("name", "V"),)), [22]),
    (flt.And(parts=(_t("duplicated", "abcd"), _t("same", "xyz"))),
     [1, 5, 11, 21, 27, 31]),
    (flt.And(parts=(_t("duplicated", "abcd"), _t("same", "xyz"), _t("name", "A"))),
     [1]),
    (flt.And(parts=(_t("duplicated", "abcd"), _t("same", "xyz"), _t("name", "B"))),
     []),
    # standalone Not (not_standalone_sequential_ordered): all docs minus hits
    (flt.Not(_t("duplicated", "abcd")), NOT_ABCD),
    (flt.And(parts=(flt.Not(_t("duplicated", "abcd")),)), NOT_ABCD),
]


@pytest.mark.parametrize("f,expected", BOOL_CASES)
def test_boolean_reference_selection(seq_kw_index, f, expected):
    assert matched(seq_kw_index, f) == expected


# ---------------------------------------------------------------------------
# granular_range_filter_tests.cpp numeric sections: by_range_granularity_level
# (granular_sequential.json, l:173-460) and the seq ranges / value ranges over
# simple_sequential.json (by_range_sequential_cost l:1920-2046). The engine
# surface replacing by_granular_range is NumericRange over a native numeric
# stored column (granularity tries are a representation detail of opaque-byte
# terms; parquet stats fill that role here) — the SELECTIONS must match.
# ---------------------------------------------------------------------------

GRANULAR_VALUES = [1, 100, 1000, 10000, 10000.123, 10000.456, 10005, 20007,
                   -30000, -10004, -123, -456]


@pytest.fixture(scope="module")
def granular_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_gran"))
    names = "ABCDEFGHIKLM"
    rows = [
        (str(i + 1), names[i], float(v)) for i, v in enumerate(GRANULAR_VALUES)
    ]
    df = spark.createDataFrame(rows, "doc_key string, name string, value double")
    IndexBuilder(spark, path, analyzer="norm:none", num_segments=1).build(
        df, key_col="doc_key", text_col="name", stored_cols=("value",)
    )
    return IndexReader(spark, path)


GRANULAR_CASES = [
    (0, 1000, True, True, [1, 2, 3]),
    (-1000, 1000, True, True, [1, 2, 3, 11, 12]),
    (-20000, 20000, True, True, [1, 2, 3, 4, 5, 6, 7, 10, 11, 12]),
    (100, None, False, True, [3, 4, 5, 6, 7, 8]),
    (100, None, True, True, [2, 3, 4, 5, 6, 7, 8]),
    (20007, None, True, True, [8]),
    (None, 10000.123, True, False, [1, 2, 3, 4, 9, 10, 11, 12]),
    (None, 10000.123, True, True, [1, 2, 3, 4, 5, 9, 10, 11, 12]),
    (None, None, True, True, list(range(1, 13))),  # all documents
]


@pytest.mark.parametrize("low,high,il,ih,expected", GRANULAR_CASES)
def test_numeric_range_granular_selection(granular_index, low, high, il, ih, expected):
    f = flt.NumericRange("value", low=low, high=high, include_low=il, include_high=ih)
    assert matched(granular_index, f) == expected


# simple_sequential value/seq columns (doc = seq+1; value only on seqs 0-16)
SIMPLE_VALUES = {0: 100, 1: 101, 2: 123, 3: 12, 4: 100, 5: 1234, 6: 100,
                 7: 123, 8: 100, 9: 100, 10: 12, 11: 95, 12: 90.564, 13: 1,
                 14: 0, 15: 50, 16: -32.5}


@pytest.fixture(scope="module")
def seq_numeric_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_seqnum"))
    rows = [
        (str(seq + 1), name, float(SIMPLE_VALUES[seq]) if seq in SIMPLE_VALUES else None,
         seq)
        for seq, name, _, _, _ in SIMPLE_SEQ
    ]
    df = spark.createDataFrame(
        rows, "doc_key string, name string, value double, seq long"
    )
    IndexBuilder(spark, path, analyzer="norm:none", num_segments=1).build(
        df, key_col="doc_key", text_col="name", stored_cols=("value", "seq")
    )
    return IndexReader(spark, path)


SEQNUM_CASES = [
    # value = (..;..): every doc HAVING the column (granular l:1920-1960)
    ("value", None, None, False, False, list(range(1, 18))),
    # value = (..;100)
    ("value", None, 100, False, False, [4, 11, 12, 13, 14, 15, 16, 17]),
    # long - seq = [7..7] / [1..7] / [31..32]
    ("seq", 7, 7, True, True, [8]),
    ("seq", 1, 7, True, True, [2, 3, 4, 5, 6, 7, 8]),
    ("seq", 31, 32, True, True, [32]),
]


@pytest.mark.parametrize("col,low,high,il,ih,expected", SEQNUM_CASES)
def test_numeric_range_simple_selection(
    seq_numeric_index, col, low, high, il, ih, expected
):
    f = flt.NumericRange(col, low=low, high=high, include_low=il, include_high=ih)
    assert matched(seq_numeric_index, f) == expected


# ---------------------------------------------------------------------------
# nested_filter_test.cpp (l:228-760): ChildToParentJoin over the orders/items
# dataset. The reference encodes nesting positionally (children precede their
# parent; a doc without the parent-marker field — order 15, no customer —
# folds into the NEXT parent's children); this engine's declarative encoding
# carries the parent's key on each child row, materialized here with the
# same adjacency. Prices/counts are zero-padded keyword terms so the
# child-side range behaves numerically.
# ---------------------------------------------------------------------------

# (doc, item, price, count, parent_key, customer, date)
NESTED_DOCS = [
    (1, "Keyboard", 100, 1, "6"), (2, "Mouse", 50, 2, "6"),
    (3, "Display", 1000, 2, "6"), (4, "CPU", 5000, 1, "6"),
    (5, "RAM", 5000, 1, "6"),
    (6, None, None, None, None),  # parent: ArangoDB, May
    (7, "CPU", 1000, 3, "8"),
    (8, None, None, None, None),  # parent: Quest, June
    (9, "Mouse", 10, 2, "13"), (10, "Display", 1000, 2, "13"),
    (11, "CPU", 1000, 2, "13"), (12, "RAM", 5000, 2, "13"),
    (13, None, None, None, None),  # parent: Dell, April
    (14, "Mouse", 10, 2, "20"),
    (15, None, None, None, "20"),  # customerless order doc -> next parent
    (16, "Stand", 10, 2, "20"), (17, "Display", 1000, 2, "20"),
    (18, "CPU", 1000, 2, "20"), (19, "RAM", 5000, 2, "20"),
    (20, None, None, None, None),  # parent: BAE, March
]


@pytest.fixture(scope="module")
def nested_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_nested"))
    rows = [
        (str(d), item, None if price is None else f"{price:05d}",
         None if count is None else str(count), pk)
        for d, item, price, count, pk in NESTED_DOCS
    ]
    df = spark.createDataFrame(
        rows,
        "doc_key string, item string, price string, count string, "
        "parent_key string",
    )
    IndexBuilder(spark, path, analyzer="simple", num_segments=1).build(
        df, key_col="doc_key",
        fields=(("item", "item", "norm:none"), ("price", "price", "norm:none"),
                ("count", "count", "norm:none")),
        stored_cols=("parent_key",),
    )
    return IndexReader(spark, path)


NESTED_CASES = [
    (flt.Nested(child=flt.Term("Keyboard", field="item")), [6]),
    (flt.Nested(child=flt.Term("Mouse", field="item")), [6, 13, 20]),
    # item == Mouse && price <= 11 (MakeByTermAndRange upper bound)
    (flt.Nested(child=flt.And((
        flt.Term("Mouse", field="item"),
        flt.Range(high="00011", include_high=True, field="price"),
    ))), [13, 20]),
    (flt.Nested(child=flt.Term("2", field="count")), [6, 13, 20]),
    # Match{3}: at least 3 matching children
    (flt.Nested(child=flt.Term("2", field="count"), match="min", min_children=3),
     [13, 20]),
    (flt.Nested(child=flt.Term("1", field="count"), match="min", min_children=3),
     [6]),
    # Match{0}: every parent matches, zero-child parents score 0
    (flt.Nested(child=flt.Term("1", field="count"), match="min", min_children=0),
     [6, 8, 13, 20]),
]


@pytest.mark.parametrize("f,expected", NESTED_CASES)
def test_by_nested_reference_selection(nested_index, f, expected):
    assert matched(nested_index, f) == expected


# ---------------------------------------------------------------------------
# same_position_filter_tests.cpp sub_objects_unordered (l:200-330) over
# same_position.json: 96 docs, each an ARRAY of {a, b, c} sub-objects; the
# reference indexes fields a/b/c as parallel token streams (array order =
# positions), and by_same_position takes (field, term) PAIRS so different
# fields must align at one position. Fixture derived from the resource as
# per-doc "a|b|c" triple strings (tests/fixtures/same_position_triples.json);
# a scalar oracle recomputes each expected doc set from the triples.
# ---------------------------------------------------------------------------

import json as _json
import os as _os

_SP_FIXTURE = _os.path.join(_os.path.dirname(__file__), "fixtures",
                            "same_position_triples.json")


def _sp_docs():
    with open(_SP_FIXTURE) as fh:
        return [
            [tuple(t.split("|")) for t in doc]
            for doc in _json.load(fh)["docs"]
        ]


@pytest.fixture(scope="module")
def same_position_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_samepos"))
    rows = [
        (
            str(i + 1),
            " ".join(t[0] for t in doc),
            " ".join(t[1] for t in doc),
            " ".join(t[2] for t in doc),
        )
        for i, doc in enumerate(_sp_docs())
    ]
    df = spark.createDataFrame(rows, "doc_key string, a string, b string, c string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key",
        fields=(("a", "a", "simple"), ("b", "b", "simple"), ("c", "c", "simple")),
    )
    return IndexReader(spark, path)


def _sp_oracle(pairs):
    """Docs (1-based) having one array index where every (field, term) in
    ``pairs`` holds; field -> triple slot."""
    slot = {"a": 0, "b": 1, "c": 2}
    out = []
    for i, doc in enumerate(_sp_docs()):
        if any(all(t[slot[f]] == v for f, v in pairs) for t in doc):
            out.append(i + 1)
    return out


SAMEPOS_CASES = [
    # "check document with first position" {a:300, b:90, c:9}
    [("a", "300"), ("b", "90"), ("c", "9")],
    # {a:100, b:30, c:6} (the seek scenario)
    [("a", "100"), ("b", "30"), ("c", "6")],
    [("a", "400"), ("b", "10"), ("c", "3")],
    [("a", "200"), ("b", "60")],
    [("b", "90"), ("c", "9")],
    [("a", "100"), ("b", "30"), ("c", "100")],
]


@pytest.mark.parametrize("pairs", SAMEPOS_CASES, ids=lambda p: "+".join(
    f"{f}{v}" for f, v in p))
def test_same_position_cross_field_selection(same_position_index, pairs):
    f = flt.SamePosition(tuple(pairs))
    assert matched(same_position_index, f) == _sp_oracle(pairs)


def test_same_position_single_pair_equals_term(same_position_index):
    """{ a: 100 } — a one-pair same_position is exactly by_term
    (same_position_filter_tests.cpp:244-270)."""
    sp = matched(same_position_index, flt.SamePosition((("a", "100"),)))
    term = matched(same_position_index, flt.Term("100", field="a"))
    assert sp == term and sp  # non-empty and identical


def test_same_position_unknown_field_empty(same_position_index):
    assert matched(
        same_position_index, flt.SamePosition((("a", "100"), ("zz", "1")))
    ) == []


# ---------------------------------------------------------------------------
# by_phrase slot offsets (phrase_filter.hpp:73-86 push_back(offs): each part
# sits at 1 + previous position + offs; the first part's offset is
# normalized away by base_offset, phrase_filter.cpp:296-309).
# ---------------------------------------------------------------------------

GAP_CORPUS = {
    1: "a b a",          # a at 1,3
    2: "a a a",          # a at 1,2,3
    3: "a x x a",        # a at 1,4
    4: "b a b a b",      # a at 2,4
    5: "quick brown fox",
    6: "quick red brown fox",
}


@pytest.fixture(scope="module")
def gap_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("refpar_gap"))
    rows = [(str(d), text) for d, text in GAP_CORPUS.items()]
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=1).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


GAP_CASES = [
    # consecutive (offsets None == all-zero gaps)
    (("a", "a"), None, [2]),
    (("a", "a"), (0, 0), [2]),
    # one-position gap: a _ a (doc 2's "a a a" has a's at 1 and 3 too)
    (("a", "a"), (0, 1), [1, 2, 4]),
    # two-position gap: a _ _ a
    (("a", "a"), (0, 2), [3]),
    # leading offset is irrelevant (single term at huge offset = term query)
    (("a",), (5,), [1, 2, 3, 4]),
    (("quick", "fox"), (0, 1), [5]),  # quick _ fox ("quick brown fox")
    (("quick", "fox"), (0, 2), [6]),  # quick _ _ fox ("quick red brown fox")
    (("quick", "brown", "fox"), None, [5]),
    # quick, then brown 2 ahead, then fox right after: quick _ brown fox
    (("quick", "brown", "fox"), (0, 1, 0), [6]),
]


@pytest.mark.parametrize("terms,offsets,expected", GAP_CASES)
def test_phrase_slot_offsets(gap_index, terms, offsets, expected):
    f = flt.Phrase(terms, offsets=offsets)
    assert matched(gap_index, f) == expected


def _score_map(index, f):
    s = Searcher(index)
    return {int(r["doc_key"]): r["score"] for r in s.search(f, k=100).collect()}


@pytest.mark.parametrize("merge,fold", [("max", max), ("min", min), ("sum", sum)])
def test_by_terms_merge_type(gap_index, merge, fold):
    """by_terms merge_type kSum/kMax/kMin folds member-term leg scores
    (terms_filter.hpp:69): per doc, the merged score must equal the fold of
    that doc's individual term-query scores."""
    a = _score_map(gap_index, flt.Term("a"))
    b = _score_map(gap_index, flt.Term("b"))
    got = _score_map(gap_index, flt.Terms(("a", "b"), merge=merge))
    expected = {
        d: fold([m[d] for m in (a, b) if d in m])
        for d in set(a) | set(b)
    }
    assert set(got) == set(expected)
    for d in expected:
        assert got[d] == pytest.approx(expected[d], rel=1e-9), (d, merge)


def test_phrase_offsets_nested_under_and(gap_index):
    """Offsets must also apply to a phrase nested under And, not just to a
    root phrase."""
    root = matched(gap_index, flt.Phrase(("a", "a"), offsets=(0, 1)))
    nested = matched(
        gap_index,
        flt.And((flt.Phrase(("a", "a"), offsets=(0, 1)), flt.All(boost=0.0))),
    )
    assert nested == root == [1, 2, 4]


def test_cross_field_samepos_union_keeps_pushdown(same_position_index):
    """The cross-field same-position postings read is, per field, a pruned
    read: that field's term range + set AND'd with its field equality, so
    row-group statistics prune every branch (the row-group-pruning contract
    every 100-TB claim rests on) — never one unpruned read."""
    from iresearch_spark.search.executor import compile_plan, scan_reads

    plan, scan = compile_plan(
        flt.SamePosition((("a", "300"), ("b", "90"))), same_position_index
    )
    assert plan["slots"] == [["a\x1f300"], ["b\x1f90"]]
    reads = scan_reads(scan, same_position_index.is_multifield)
    assert len(reads) == 1 and reads[0][1]  # one read, positions for every row
    pred = str(reads[0][0])
    assert pred.count("is_in(term") == 2, pred  # one pruned branch per field
    for f, t in (("a", "300"), ("b", "90")):
        assert f'(field == "{f}")' in pred and f'(term >= "{t}")' in pred, pred


def test_same_position_cross_field_nested_and_batch(same_position_index):
    """Cross-field pairs also work nested under And and in search_many
    batches (the compile_plans branch) — selection identical to the root
    path; the batch ScanSpec is (field, term)-keyed natively."""
    pairs = (("a", "300"), ("b", "90"), ("c", "9"))
    expected = _sp_oracle(list(pairs))
    root = matched(same_position_index, flt.SamePosition(pairs))
    nested = matched(
        same_position_index,
        flt.And((flt.SamePosition(pairs), flt.All(boost=0.0))),
    )
    s = Searcher(same_position_index)
    batch = s.search_many(
        {"q": flt.And((flt.SamePosition(pairs), flt.All(boost=0.0)))}, k=100
    )
    got_batch = sorted(
        int(r["doc_key"])
        for r in batch.join(
            same_position_index.docs().select("segment_id", "doc_id", "doc_key"),
            ["segment_id", "doc_id"],
        ).collect()
    )
    assert root == expected
    assert nested == expected
    assert got_batch == expected

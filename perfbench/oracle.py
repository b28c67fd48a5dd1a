"""Independent BM25 oracle in DuckDB over the input pages.

Tokenization is ``lower(text)`` split on ``[^a-z0-9]+`` with empty tokens
dropped, the rule the ``__spark_entry__.py`` oracles use. Scores are Okapi
BM25 with k1=1.2, b=0.75 and idf = ln(1 + (n - df + 0.5) / (df + 0.5)),
summed over the matched terms; a phrase scores with its own document frequency
and its occurrence count as tf.
"""

from __future__ import annotations

import duckdb

K1, B = 1.2, 0.75

_TOKENS = """
CREATE OR REPLACE TABLE toks AS
SELECT url, unnest(l) AS term, generate_subscripts(l, 1) AS pos
FROM (SELECT url, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS l FROM pages);
CREATE OR REPLACE TABLE dl AS SELECT url, count(*)::DOUBLE AS dl FROM toks GROUP BY url;
CREATE OR REPLACE TABLE tf AS SELECT term, url, count(*)::DOUBLE AS tf FROM toks GROUP BY term, url;
CREATE OR REPLACE TABLE dfreq AS SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term;
CREATE OR REPLACE TABLE st AS SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl;
"""

_SCORE = f"""({K1} + 1) * ln(1 + (st.n - {{df}} + 0.5) / ({{df}} + 0.5)) * {{tf}}
  / ({K1} * (1 - {B}) + {K1} * {B} * dl.dl / st.avgdl + {{tf}})"""


class Bm25Oracle:
    """Top-k BM25 answers for ``pages.ORACLE_KINDS`` query specs.

    ``sources`` are parquet globs of (url, text) rows; ``deleted`` keys are
    left out, which is what an index holds after its deletes are purged.
    """

    def __init__(self, sources: list[str], deleted: list[str] = ()):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        files = ", ".join(f"'{s}'" for s in sources)
        self.con.execute(f"CREATE TABLE pages AS SELECT url, text FROM read_parquet([{files}])")
        if deleted:
            self.con.execute("CREATE TABLE gone (url VARCHAR)")
            self.con.executemany("INSERT INTO gone VALUES (?)", [(k,) for k in deleted])
            self.con.execute("DELETE FROM pages WHERE url IN (SELECT url FROM gone)")
        self.con.execute(_TOKENS)

    def close(self) -> None:
        self.con.close()

    def top(self, spec: tuple, k: int) -> list[tuple[str, float]]:
        """(url, score) of every match scoring at least the k-th best score
        minus a tolerance, best first, so ties at the cut are all present."""
        sql, params = self._scored(spec)
        rows = sorted(
            ((u, float(sc)) for u, sc in self.con.execute(sql, params).fetchall()),
            key=lambda r: (-r[1], r[0]),
        )
        if len(rows) <= k:
            return rows
        cut = rows[k - 1][1] - 1e-6 * max(1.0, abs(rows[k - 1][1]))
        return [r for r in rows if r[1] >= cut]

    def _scored(self, spec: tuple) -> tuple[str, list]:
        kind = spec[0]
        if kind == "phrase":
            a, b = spec[1]
            return (
                f"""WITH m AS (SELECT x.url, count(*)::DOUBLE AS tf FROM toks x
                               JOIN toks y ON y.url = x.url AND y.pos = x.pos + 1
                               WHERE x.term = ? AND y.term = ? GROUP BY x.url),
                         p AS (SELECT count(*)::DOUBLE AS df FROM m)
                    SELECT m.url, {_SCORE.format(df='p.df', tf='m.tf')} AS score
                    FROM m JOIN dl USING (url) CROSS JOIN p CROSS JOIN st""",
                [a, b],
            )
        if kind == "term":
            terms, need = [spec[1]], 1
        elif kind == "and":
            terms, need = list(spec[1]), len(set(spec[1]))
        elif kind == "or":
            terms, need = list(spec[1]), spec[2]
        else:
            raise ValueError(f"no oracle for {kind}")
        marks = ", ".join("?" for _ in terms)
        return (
            f"""SELECT tf.url, sum({_SCORE.format(df='d.df', tf='tf.tf')}) AS score
                FROM tf JOIN dfreq d USING (term) JOIN dl USING (url) CROSS JOIN st
                WHERE tf.term IN ({marks})
                GROUP BY tf.url HAVING count(*) >= {int(need)}""",
            terms,
        )


def compare_topk(
    got: list[tuple[str, float]], want: list[tuple[str, float]], k: int, tol: float = 1e-6
) -> str | None:
    """None when ``got`` (engine (key, score) rows, best first) is a correct
    top-k against ``want`` (:meth:`Bm25Oracle.top`); else the first mismatch.

    Ties are allowed to resolve either way: the score sequence must match the
    oracle's best k within ``tol`` (relative to max(1, |score|)), and each
    returned key must be a match whose oracle score equals its engine score.
    """
    if len(got) != min(k, len(want)):
        return f"{len(got)} rows, oracle has {min(k, len(want))}"
    scores = dict(want)
    for i, ((key, s), (_, w)) in enumerate(zip(got, want)):
        if abs(s - w) > tol * max(1.0, abs(w)):
            return f"rank {i}: score {s!r}, oracle {w!r}"
        if key not in scores or abs(scores[key] - s) > tol * max(1.0, abs(s)):
            return f"rank {i}: key {key} score {s!r}, oracle {scores.get(key)!r}"
    return None

"""Independent DuckDB evaluation of every query the benchmark runs, over
the parquet files the program wrote (the same files the query read).

Semantics follow the reference the program rebuilds: J3 matches a url when
any lowercased block text (or index term) CONTAINS any query word; J4
returns, per page, each matching block once per matching word, ordered by
(block_no, word index), with the F6 confidence colour; BM25 uses token
equality on index terms with ln(1 + (N - df + .5)/(df + .5)) and a score
rounded as floor(x * 1e6 + .5) / 1e6.
"""

from __future__ import annotations

import os

K1 = 1.2
B = 0.75
BM25_LIMIT = 10
SCORE_TOL = 2e-6


def parquet_globs(paths: list[str]) -> list[str]:
    """A file stays a file; a table directory becomes every parquet file
    below it except the ``_aux`` side tables."""
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = [d for d in dirs if not d.startswith("_")]
                out += [os.path.join(root, f) for f in files
                        if f.endswith(".parquet")]
        else:
            out.append(p)
    return sorted(out)


def _files_sql(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], hive_partitioning = false)"


class Oracle:
    def __init__(self, tmp_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"threads": 2,
                                          "temp_directory": tmp_dir})

    def close(self) -> None:
        self.con.close()

    def j3(self, files: list[str], words: list[str], column: str) -> list[str]:
        """J3 over block texts (``column='lower(text)'``) or index terms
        (``column='term'``)."""
        cond = " OR ".join(f"contains({column}, ?)" for _ in words)
        rows = self.con.execute(
            f"SELECT DISTINCT url FROM {_files_sql(files)} WHERE {cond} "
            "ORDER BY lower(url)",
            words,
        ).fetchall()
        return [r[0] for r in rows]

    def indoc(self, files: list[str], url: str, words: list[str]) -> list:
        values = ", ".join("(?, ?)" for _ in words)
        params: list = []
        for i, w in enumerate(words):
            params += [i, w]
        rows = self.con.execute(
            f"""
            WITH w(word_idx, word) AS (VALUES {values}),
            b AS (SELECT * FROM {_files_sql(files)} WHERE url = ?)
            SELECT page_no,
                   list([b."left", b.top, b.width, b.height, b.conf]
                        ORDER BY b.block_no, w.word_idx),
                   list(b.text ORDER BY b.block_no, w.word_idx)
            FROM b JOIN w ON contains(lower(b.text), w.word)
            GROUP BY page_no ORDER BY page_no
            """,
            params + [url],
        ).fetchall()
        return [
            (page_no, [
                (*g, t, "green" if g[4] >= 80 else "blue" if g[4] >= 40 else "red")
                for g, t in zip(geoms, texts)
            ])
            for page_no, geoms, texts in rows
        ]

    def bm25(self, files: list[str], words: list[str]) -> list[tuple[str, float]]:
        terms = sorted(set(words))
        marks = ", ".join("?" for _ in terms)
        rows = self.con.execute(
            f"""
            WITH p AS (SELECT term, url FROM {_files_sql(files)}),
            dl AS (SELECT url, count(*) AS dl FROM p GROUP BY url),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avg_dl FROM dl),
            tf AS (SELECT term, url, count(*) AS tf FROM p
                   WHERE term IN ({marks}) GROUP BY term, url),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT tf.url,
                   floor(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
                             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl
                                                         / st.avg_dl)))
                         * 1e6 + 0.5) / 1e6 AS score
            FROM tf JOIN df USING (term) JOIN dl USING (url), st
            GROUP BY tf.url ORDER BY score DESC, tf.url LIMIT {BM25_LIMIT}
            """,
            terms,
        ).fetchall()
        return [(u, float(s)) for u, s in rows]


def same_ranking(got: list[tuple[str, float]],
                 want: list[tuple[str, float]]) -> bool:
    """Equal top-k up to last-digit float differences: scores agree within
    SCORE_TOL position by position, and urls agree except where a tie at
    the cut-off lets either engine pick."""
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > SCORE_TOL for a, b in zip(got, want)):
        return False
    if [u for u, _ in got] == [u for u, _ in want]:
        return True
    cut = want[-1][1]
    head = lambda rows: sorted(u for u, s in rows if s > cut + SCORE_TOL)  # noqa: E731
    return head(got) == head(want)

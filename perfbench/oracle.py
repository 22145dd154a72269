"""Expected answers, computed with DuckDB from the raw Parquet inputs,
independently of the engine under test."""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import duckdb


def _files(paths: Sequence[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


class Oracle:
    def __init__(self) -> None:
        self.db = duckdb.connect()

    def close(self) -> None:
        self.db.close()

    def scalar(self, sql: str, params: Sequence = ()) -> object:
        return self.db.execute(sql, list(params)).fetchone()[0]

    # --------------------------------------------------------------- scan

    def pruned_count(self, paths: Sequence[str], flag: str, lo: str,
                     hi: str) -> int:
        return int(self.scalar(
            f"SELECT count(*) FROM read_parquet({_files(paths)}) "
            "WHERE l_returnflag = ? AND l_shipdate BETWEEN ?::DATE AND ?::DATE",
            (flag, lo, hi)))

    # -------------------------------------------------------------- write

    def key_rows(self, path: str, keys: Sequence[int]) -> int:
        return int(self.scalar(
            f"SELECT count(*) FROM read_parquet('{path}') "
            "WHERE o_orderkey IN (SELECT unnest(?::BIGINT[]))", (list(keys),)))

    def count_and_key_sum(self, paths: Sequence[str]) -> Tuple[int, int]:
        n, s = self.db.execute(
            f"SELECT count(*), sum(o_orderkey) FROM "
            f"read_parquet({_files(paths)})").fetchone()
        return int(n), int(s)

    # ------------------------------------------------------------- curate

    def curate(self, docs: str) -> Dict[str, int]:
        """Exact-dedup survivors, near-dup pairs (word-3-gram Jaccard >=
        0.8 among survivors), and near-dup clusters and their members."""
        db = self.db
        db.execute(f"""
            CREATE OR REPLACE TEMP TABLE kept AS
            SELECT min(doc_id) AS doc_id FROM read_parquet('{docs}')
            GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        """)
        db.execute(f"""
            CREATE OR REPLACE TEMP TABLE sh AS
            WITH tk AS (
                SELECT d.doc_id,
                       list_filter(string_split(d.text, ' '), x -> x <> '') AS t
                FROM read_parquet('{docs}') d JOIN kept USING (doc_id))
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> array_to_string(t[i:i + 2], ' '))) AS g
            FROM tk WHERE len(t) >= 3
        """)
        pairs = db.execute("""
            WITH ex AS (SELECT doc_id, unnest(g) AS gram, len(g) AS n FROM sh),
            shared AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT count(*) FROM shared WHERE c / (na + nb - c) >= 0.8
        """).fetchone()[0]
        clusters, members = db.execute("""
            SELECT count(*), coalesce(sum(m), 0) FROM (
                SELECT count(*) AS m FROM sh GROUP BY list_sort(g)
                HAVING count(*) >= 2)
        """).fetchone()
        kept = self.scalar("SELECT count(*) FROM kept")
        return {"kept": int(kept), "pairs": int(pairs),
                "clusters": int(clusters), "members": int(members)}


"""Reference answers computed with DuckDB, outside the timed window.

The reference works from the generated inputs, not from the engine's
outputs: links are extracted from the pages' html with DuckDB's own
regex, and edge deltas are applied with SQL. The engine's edge count
and triangle total must match it exactly.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_HREF = r'<a\s+[^>]*href="([^"]*)"[^>]*>'

_TRIANGLES = """
SELECT count(*) FROM {t} x
JOIN {t} y ON x.b = y.a
JOIN {t} z ON z.a = x.a AND z.b = y.b
"""


class Reference:
    """One DuckDB connection holding the current undirected edge set
    ``pairs(a, b)`` with ``a < b``."""

    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")

    def close(self) -> None:
        self.con.close()

    def _answer(self) -> dict[str, int]:
        directed = 2 * self.con.execute("SELECT count(*) FROM pairs").fetchone()[0]
        triangles = self.con.execute(_TRIANGLES.format(t="pairs")).fetchone()[0]
        return {"edges": int(directed), "triangles": int(triangles)}

    def from_pages(self, pages: pa.Table) -> dict[str, int]:
        """Symmetric link graph of ``pages(url, html)``, links to urls
        outside the table and self-links dropped, as urls."""
        self.con.register("pages_in", pages)
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE pairs AS
            WITH l AS (
              SELECT url AS s,
                     unnest(regexp_extract_all(decode(html), '{_HREF}', 1)) AS d
              FROM pages_in
            )
            SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
            FROM l JOIN pages_in p ON l.d = p.url
            WHERE s <> d
            """
        )
        self.con.unregister("pages_in")
        return self._answer()

    def load_edges(self, edges: pa.Table) -> dict[str, int]:
        """Replace the edge set with ``edges(src, dst)`` (dense ids)."""
        self.con.register("edges_in", edges)
        self.con.execute(
            """
            CREATE OR REPLACE TABLE pairs AS
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges_in WHERE src <> dst
            """
        )
        self.con.unregister("edges_in")
        return self._answer()

    def apply_delta(self, batch: pa.Table) -> dict[str, int]:
        """Apply ``batch(op, src, dst)``: deletions first, then insertions
        of pairs that did not exist before the batch."""
        self.con.register("batch_in", batch)
        self.con.execute(
            """
            CREATE OR REPLACE TABLE pairs AS
            WITH b AS (
              SELECT op, least(src, dst) AS a, greatest(src, dst) AS b
              FROM batch_in WHERE src <> dst
            ),
            kept AS (
              SELECT a, b FROM pairs
              EXCEPT SELECT a, b FROM b WHERE op = 'del'
            ),
            added AS (
              SELECT a, b FROM b WHERE op = 'ins'
              EXCEPT SELECT a, b FROM pairs
            )
            SELECT a, b FROM kept UNION SELECT a, b FROM added
            """
        )
        self.con.unregister("batch_in")
        return self._answer()

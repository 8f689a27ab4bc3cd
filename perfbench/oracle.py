"""DuckDB check of the pipeline's text output.

The expected rows come from the paper's query (PAPER.md §0) run by
DuckDB on the same input file, with the aggregate and window length of
the workload and ``ORDER BY key, value`` as the CLI ranks.  Ties on
(key, value) are indistinguishable rows, so the expected multiset of
(rank, key, agg) is unique.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

_PAPER_SQL = """
CREATE TABLE expected AS
WITH ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY key, value) - 1 AS rank, key, value
  FROM read_csv('{input}', delim='\t', header=false, auto_detect=false,
                columns={{'key': 'BIGINT', 'value': 'BIGINT'}})
)
SELECT rank, key,
       {agg}(value) OVER (ORDER BY rank
                          ROWS BETWEEN {preceding} PRECEDING AND CURRENT ROW) AS agg
FROM ranked
"""

_READ_OUTPUT = """
CREATE OR REPLACE TABLE actual AS
SELECT * FROM read_csv('{glob}', delim='\t', header=false, auto_detect=false,
                       columns={{'rank': 'BIGINT', 'key': 'BIGINT', 'agg': 'BIGINT'}})
"""

_DIFF = """
SELECT (SELECT count(*) FROM (FROM expected EXCEPT ALL FROM actual)),
       (SELECT count(*) FROM (FROM actual EXCEPT ALL FROM expected))
"""


class Oracle:
    """Holds the expected rows for one input; ``check`` compares an
    output directory of ``rank\\tkey\\tagg`` part files against them."""

    def __init__(self, input_file: Path, agg: str, window: int, scratch: Path):
        if agg not in ("sum", "max"):
            raise ValueError(f"no oracle for agg {agg!r}")
        scratch.mkdir(parents=True, exist_ok=True)
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory='{scratch}'")
        self._con.execute("SET memory_limit='1GB'")
        self._con.execute("SET threads=2")
        self._con.execute(
            _PAPER_SQL.format(input=input_file, agg=agg, preceding=window - 1)
        )

    def check(self, output_dir: Path) -> bool:
        """True iff the part files hold exactly the expected rows.  An
        unreadable or unparsable output counts as a mismatch."""
        try:
            self._con.execute(_READ_OUTPUT.format(glob=output_dir / "part-*"))
            missing, extra = self._con.execute(_DIFF).fetchone()
        except duckdb.Error:
            return False
        return missing == 0 and extra == 0

    def close(self) -> None:
        self._con.close()

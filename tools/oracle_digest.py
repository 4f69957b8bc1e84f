"""Print one `name sha256` line per registered query's DuckDB oracle SQL.

Usage:  python tools/oracle_digest.py > digests.txt

Run it in two checkouts and diff the outputs: a refactor of the SQL twins
(e.g. the hex axial-coordinate renderers) is byte-identical when no line
changes. The checkout root, which fixture paths embed, is hashed as
`<repo>`; rows-only queries (no oracle) print `-`. No Spark session starts.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from fs2_osm_spark.queries import QUERIES  # noqa: E402

for name, q in sorted(QUERIES.items()):
    sql = q.oracle and q.oracle.replace(ROOT, "<repo>")
    print(name, hashlib.sha256(sql.encode()).hexdigest() if sql else "-")

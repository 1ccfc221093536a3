"""Seeded input generator for the benchmark.

Samples entities (harness customers) from the sf0.1 snapshot of the harness
`events` and `customer` tables in `perfbench/data/`, derives their
transcripts with the harness view, and writes them as parquet arrival files.
The same seed always gives the same files.

The harness view is the transcripts CTE of `graft.sources.Transcripts`
(common Spark/DuckDB dialect): each user's events, in (ts, event_id) order,
form conversations of 20 turns, `conv_id = c<user>-<k>`. Each sampled user
keeps its first `turns` events, whole conversations, so every seed gives the
same input size; the kept conversations are identical to the full table's.
The gold convention holds: the entity is the `c<id>-` prefix of `conv_id`.
"""
import os
import random

import duckdb

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TRANSCRIPTS_SQL = """
WITH seqd AS (
  SELECT e.*, ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) - 1 AS seq
  FROM events e
), transcripts AS (
  SELECT
    'c' || CAST(s.user_id AS STRING) || '-' || CAST(CAST(FLOOR(s.seq / 20) AS INT) AS STRING) AS conv_id,
    CAST(s.seq % 20 AS INT) AS turn_idx,
    CASE WHEN s.event_type IN ('click','view') THEN 'user'
         WHEN s.event_type = 'error' THEN 'tool' ELSE 'assistant' END AS role,
    CASE (CASE WHEN s.seq % 20 = 0 THEN CAST((s.event_id % 2) * 3 AS BIGINT) ELSE s.event_id % 7 END)
      WHEN 0 THEN 'Hello this is ' || c.c_name || ' about an order'
      WHEN 1 THEN 'Ticket update for account ' || substr(c.c_name, 10, 9) || ' pending review'
      WHEN 2 THEN 'They asked about the refund again'
      WHEN 3 THEN 'Case note ' || c.c_name || ' escalated the issue'
      WHEN 4 THEN 'Agent assigned to Cust-' || CAST(s.user_id AS STRING) || ' for follow-up'
      WHEN 5 THEN 'Priority case Acct ' || substr(c.c_name, 10, 9) || ' flagged for audit'
      ELSE 'Note from the client regarding ' || c.c_name || ' today'
    END AS text,
    CASE WHEN s.event_type = 'error' THEN 'diagnostics'
         WHEN s.event_type = 'purchase' THEN 'checkout' ELSE NULL END AS tool,
    CAST(s.ts AS TIMESTAMPTZ) AS ts
  FROM seqd s JOIN customer c ON c.c_custkey = s.user_id
)
SELECT * FROM transcripts
"""


def sample_entities(seed, n, turns):
    """`n` distinct harness users with at least `turns` events, drawn by `seed`."""
    pool = [r[0] for r in duckdb.connect().execute(
        f"SELECT user_id FROM '{DATA}/events.parquet' GROUP BY 1 "
        f"HAVING count(*) >= {turns} ORDER BY 1").fetchall()]
    return sorted(random.Random(seed).sample(pool, n))


def _connect(users, turns):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    ids = ",".join(str(u) for u in users)
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{DATA}/events.parquet' "
                f"WHERE user_id IN ({ids}) QUALIFY ROW_NUMBER() OVER "
                f"(PARTITION BY user_id ORDER BY ts, event_id) <= {turns}")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{DATA}/customer.parquet' "
                f"WHERE c_custkey IN ({ids})")
    con.execute(f"CREATE TABLE t AS {TRANSCRIPTS_SQL}")
    return con


def _stats(con):
    turns, entities = con.execute(
        "SELECT count(*), count(DISTINCT regexp_extract(conv_id, '^c([0-9]+)-', 1)) "
        "FROM t").fetchone()
    # identifier surfaces: the account-like tokens the identifier generator
    # extracts (`Customer#…`, 9-digit alias, `Cust-…`)
    surfaces = con.execute(
        "SELECT count(DISTINCT tok) FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        "FROM t) WHERE regexp_matches(tok, '^(?:[A-Za-z]+[#-])?[0-9]+$')"
    ).fetchone()[0]
    return {"turns": turns, "entities": entities, "surfaces": surfaces}


def write_arrivals(users, turns, directory, files):
    """The users' first `turns` turns as `files` ts-ordered arrival files of
    equal row counts (`arrival-<k>.parquet`); returns statistics and file
    sizes."""
    con = _connect(users, turns)
    con.execute("CREATE TABLE a AS SELECT *, (ROW_NUMBER() OVER (ORDER BY ts, conv_id, "
                f"turn_idx) - 1) * {files} // (SELECT count(*) FROM t) AS k FROM t")
    os.makedirs(directory, exist_ok=True)
    sizes = []
    for k in range(files):
        p = os.path.join(directory, f"arrival-{k}.parquet")
        con.execute(f"COPY (SELECT * EXCLUDE (k) FROM a WHERE k = {k} "
                    f"ORDER BY ts, conv_id, turn_idx) TO '{p}' (FORMAT parquet)")
        sizes.append(con.execute(f"SELECT count(*) FROM a WHERE k = {k}").fetchone()[0])
    st = _stats(con)
    st["arrival_turns"] = sizes
    return st

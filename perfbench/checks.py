"""Output checks, one per workload.

Batch results are compared against DuckDB over the same input files; the
corpus pipeline, whose MinHash has no portable oracle, is checked by
invariants instead; the streaming sink is checked against a DuckDB
gaps-and-islands sessionization of the same events.
"""

from __future__ import annotations

import hashlib
import math
import re
from pathlib import Path

import duckdb

from configs import STREAM_DELAY_MIN, STREAM_GAP_MIN
from gen import PII_SAMPLES

_ETL_SQL = """
SELECT c_mktsegment, o_orderpriority, l_returnflag,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       sum(l_quantity) AS qty, count(*) AS n_lines,
       count(DISTINCT l_orderkey) AS n_orders
FROM '{inp}/lineitem.parquet'
JOIN '{inp}/orders.parquet' ON l_orderkey = o_orderkey
JOIN '{inp}/customer.parquet' ON o_custkey = c_custkey
WHERE l_shipdate < TIMESTAMPTZ '2022-07-01 00:00:00+00' AND l_quantity > 3
GROUP BY ALL ORDER BY ALL
"""


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _same_rows(got: list, want: list) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return f"row {g} != expected {w}"
    return None


class Checker:
    """Output check of one workload for one seed.

    The expected result (where there is one) is computed once from the
    inputs; :meth:`check` then compares each run's output against it and
    returns ``None`` or a one-line reason.
    """

    def __init__(self, inp: Path, out: Path) -> None:
        self.inp, self.out = inp, out
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'; SET threads = 1")

    def check(self) -> str | None:
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


class EtlChecker(Checker):
    def __init__(self, inp: Path, out: Path) -> None:
        super().__init__(inp, out)
        self.want = self.con.execute(_ETL_SQL.format(inp=inp)).fetchall()

    def check(self) -> str | None:
        got = self.con.execute(
            "SELECT c_mktsegment, o_orderpriority, l_returnflag, revenue, qty,"
            " n_lines, n_orders FROM read_parquet(?) ORDER BY ALL",
            [str(self.out / "rollup" / "*.parquet")],
        ).fetchall()
        return _same_rows(got, self.want)


# Independent of the engine's own patterns: the injected literals, plus
# generic shapes of the same four PII kinds.
_PII_RE = re.compile(
    r"https?://|[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b|\d{3}[- ]\d{4}"
)


class CorpusChecker(Checker):
    """Survivors are input ids, no PII survives, and every run of one
    seed writes the same rows (digest equal to the first run's)."""

    def __init__(self, inp: Path, out: Path) -> None:
        super().__init__(inp, out)
        self.ids = {
            r[0]
            for r in self.con.execute(
                "SELECT doc_id FROM read_parquet(?)", [str(inp / "documents.parquet")]
            ).fetchall()
        }
        self.digest: str | None = None

    def check(self) -> str | None:
        rows = self.con.execute(
            "SELECT doc_id, lang, text FROM read_parquet(?, hive_partitioning = true)"
            " ORDER BY doc_id",
            [str(self.out / "curated" / "*" / "*.parquet")],
        ).fetchall()
        if not rows:
            return "no surviving documents"
        stray = [r[0] for r in rows if r[0] not in self.ids]
        if stray:
            return f"{len(stray)} output ids not in the input, e.g. {stray[0]}"
        if len({r[0] for r in rows}) != len(rows):
            return "duplicate doc_id in the output"
        for doc_id, _, text in rows:
            if any(s in text for s in PII_SAMPLES) or _PII_RE.search(text):
                return f"PII survives in doc {doc_id}"
        h = hashlib.sha256()
        for r in rows:
            h.update(repr(r).encode())
        digest = h.hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            return "output differs from the first run of this seed"
        return None


class EventsChecker(Checker):
    """Each of the three sinks holds exactly the input rows with the two
    derived columns DuckDB computes from the same file."""

    _KEY = "event_id, CAST(event_date AS DATE) AS event_date, CAST(k AS INTEGER) AS k"

    def __init__(self, inp: Path, out: Path) -> None:
        super().__init__(inp, out)
        self.con.execute(
            "CREATE TABLE want AS SELECT event_id,"
            " CAST(ts AT TIME ZONE 'UTC' AS DATE) AS event_date,"
            " CAST(json_extract_string(props, '$.k') AS INTEGER) AS k"
            " FROM read_parquet(?)",
            [str(inp / "events.parquet")],
        )

    def check(self) -> str | None:
        sources = {
            "parquet": f"read_parquet('{self.out}/lake/*/*.parquet', hive_partitioning = true)",
            "csv": f"read_csv('{self.out}/csv/*.csv', header = true)",
            "json": f"read_json('{self.out}/json/*.json', format = 'newline_delimited')",
        }
        for sink, src in sources.items():
            n_diff = self.con.execute(
                f"SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL"
                f" SELECT {self._KEY} FROM {src}) UNION ALL"
                f" (SELECT {self._KEY} FROM {src} EXCEPT ALL SELECT * FROM want))"
            ).fetchone()[0]
            if n_diff:
                return f"{sink} sink differs from the expected rows in {n_diff} rows"
        return None


class StreamChecker(Checker):
    """Every emitted session is one of DuckDB's gaps-and-islands sessions
    of the same events; a session may be missing only when the final
    watermark (max event time minus the delay) has not passed its end."""

    def __init__(self, inp: Path, out: Path) -> None:
        super().__init__(inp, out)
        self.con.execute(
            f"""
            CREATE TABLE want AS
            WITH e AS (
              SELECT user_id, ts, value,
                     ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL {STREAM_GAP_MIN} MINUTE AS brk
              FROM read_parquet(?)),
            s AS (
              SELECT *, sum(CASE WHEN brk THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
              FROM e)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL {STREAM_GAP_MIN} MINUTE AS session_end,
                   count(*) AS n_events, sum(value) AS total_value
            FROM s GROUP BY user_id, sid
            """,
            [str(inp / "events" / "*.parquet")],
        )
        self.final_wm = self.con.execute(
            f"SELECT max(ts) - INTERVAL {STREAM_DELAY_MIN} MINUTE FROM read_parquet(?)",
            [str(inp / "events" / "*.parquet")],
        ).fetchone()[0]

    def check(self) -> str | None:
        got = f"read_parquet('{self.out}/sessions/*.parquet')"
        cols = "user_id, CAST(session_start AS TIMESTAMP) AS s, CAST(session_end AS TIMESTAMP) AS e, n_events"
        stray = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {got}"
            f" EXCEPT ALL SELECT {cols} FROM want)"
        ).fetchone()[0]
        if stray:
            return f"{stray} emitted sessions are not sessions of the input"
        missing = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM want WHERE session_end < ?"
            f" EXCEPT ALL SELECT {cols} FROM {got})",
            [self.final_wm],
        ).fetchone()[0]
        if missing:
            return f"{missing} sessions closed by the final watermark were not emitted"
        return None


CHECKERS: dict[str, type[Checker]] = {
    "etl_join_rollup": EtlChecker,
    "corpus_curation": CorpusChecker,
    "events_fanout": EventsChecker,
    "stream_sessions": StreamChecker,
}

"""The KSQL statement script: a fixed, seeded script through
``EngineSession.ksql``, ten writes to each read.

The tutorial's DDL declares the players TABLE (seeded by the simulated
JDBC connector), the match_event STREAM, the re-keying CSAS and the
``player_stats`` CTAS. Each block of the script inserts eight match
events and upserts two players, then reads ``SELECT * FROM player_stats
EMIT CHANGES``. Every timed script starts on a fresh ``EngineSession``
over the same SparkSession, so the topics grow the same way in every
run. Every read must equal a plain-Python model of the script. No file
is read or written.
"""

from __future__ import annotations

import random
import time

DDL = """
SET 'auto.offset.reset' = 'earliest';
CREATE SOURCE CONNECTOR players_source WITH (
  'connector.class' = 'io.confluent.connect.jdbc.JdbcSourceConnector',
  'connection.url' = 'jdbc:mysql://mysql:3306/football',
  'table.whitelist' = 'players', 'mode' = 'incrementing',
  'incrementing.column.name' = 'id', 'topic.prefix' = '');
CREATE TABLE players (id VARCHAR PRIMARY KEY, name VARCHAR, team VARCHAR,
  nationality VARCHAR)
  WITH (KAFKA_TOPIC = 'players', VALUE_FORMAT = 'JSON', PARTITIONS = 1);
CREATE STREAM match_event (id VARCHAR KEY, event_type VARCHAR,
  player_id VARCHAR, home BOOLEAN)
  WITH (KAFKA_TOPIC = 'match_event', VALUE_FORMAT = 'JSON', PARTITIONS = 1);
CREATE STREAM match_event_player
  WITH (KAFKA_TOPIC = 'match_event_player', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
  AS SELECT id AS match_id, event_type, player_id FROM match_event
  PARTITION BY player_id;
CREATE TABLE player_stats
  WITH (KAFKA_TOPIC = 'player_stats', VALUE_FORMAT = 'JSON', PARTITIONS = 1)
  AS SELECT p.id AS player_id, LATEST_BY_OFFSET(p.name) AS name,
    SUM(CASE WHEN m.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals,
    CAST(SUM(CASE WHEN m.event_type = 'GOAL' THEN 1 ELSE 0 END) AS DOUBLE)
      / CAST(COUNT_DISTINCT(m.match_id) AS DOUBLE) AS avg_goals,
    SUM(CASE WHEN m.event_type = 'ASSIST' THEN 1 ELSE 0 END) AS assists
  FROM match_event_player m INNER JOIN players p ON m.player_id = p.id
  GROUP BY p.id EMIT CHANGES;
"""
READ = "SELECT * FROM player_stats EMIT CHANGES;"
EVENTS_PER_BLOCK, UPSERTS_PER_BLOCK = 8, 2
BLOCKS = 2                  # blocks per script
PLAYER_IDS = 12             # ids 11 and 12 have no players row until upserted
MATCHES = 15


def script(seed: int) -> list[tuple[str, str, tuple]]:
    """The statement list: (kind, statement, model record)."""
    rng = random.Random(seed)
    out = []
    for block in range(BLOCKS):
        writes = ["event"] * EVENTS_PER_BLOCK + ["upsert"] * UPSERTS_PER_BLOCK
        rng.shuffle(writes)
        for i, kind in enumerate(writes):
            pid = str(rng.randint(1, PLAYER_IDS))
            if kind == "event":
                rec = (str(rng.randrange(MATCHES)), rng.choice(["GOAL", "ASSIST", "FOUL"]),
                       pid, rng.random() < 0.5)
                stmt = ("INSERT INTO match_event (id, event_type, player_id, home) "
                        f"VALUES ('{rec[0]}', '{rec[1]}', '{rec[2]}', {str(rec[3]).lower()});")
            else:
                rec = (pid, f"Player {pid} b{block}w{i}", f"Team {rng.randrange(20)}",
                       "Nation " + pid)
                stmt = ("INSERT INTO players (id, name, team, nationality) "
                        f"VALUES ('{rec[0]}', '{rec[1]}', '{rec[2]}', '{rec[3]}');")
            out.append((kind, stmt, rec))
        out.append(("read", READ, ()))
    return out


class Model:
    """Plain-Python semantics of the script: the players TABLE keeps the
    latest record per id, the stream keeps every event, and player_stats
    joins each event with its player's current row."""

    def __init__(self) -> None:
        from ksql_query_tutorial_spark.tutorial import PLAYERS_ROWS

        self.players = {r["id"]: r["name"] for r in PLAYERS_ROWS}
        self.events: list[tuple] = []

    def apply(self, kind: str, rec: tuple) -> None:
        if kind == "event":
            self.events.append(rec)
        elif kind == "upsert":
            self.players[rec[0]] = rec[1]

    def player_stats(self) -> dict[str, tuple]:
        out = {}
        for pid, name in self.players.items():
            evs = [e for e in self.events if e[2] == pid]
            if not evs:
                continue
            goals = sum(e[1] == "GOAL" for e in evs)
            assists = sum(e[1] == "ASSIST" for e in evs)
            out[pid] = (name, goals, round(goals / len({e[0] for e in evs}), 9), assists)
        return out


def read_state(rows) -> dict[str, tuple]:
    return {r["player_id"]: (r["name"], r["goals"], round(r["avg_goals"], 9), r["assists"])
            for r in rows}


def read_mismatch(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:3]
    return f"player_stats differs from the model for ids {diff}: " + \
        ", ".join(f"{k}: {got.get(k)} != {want.get(k)}" for k in diff)


class Runner:
    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.statements = script(seed)
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    def new_engine(self):
        """A fresh EngineSession with the tutorial DDL run, and a fresh
        model; None, counted as one failed operation, when the DDL raises."""
        from ksql_query_tutorial_spark.session import EngineSession

        try:
            eng = EngineSession(self.spark)
            eng.ksql(DDL)
        except Exception as exc:
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"tutorial DDL raised {exc!r}"[:300])
            return None
        return eng, Model()

    def run_script(self, eng, model, tracer=None) -> list[tuple[str, int, float]]:
        """Run every statement once; returns (kind, index, seconds) per
        statement that completed."""
        out = []
        for idx, (kind, stmt, rec) in enumerate(self.statements):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if kind == "read":
                    if tracer is None:
                        rows = eng.ksql(stmt).collect()
                    else:
                        with tracer.span("ksql.select_build"):
                            df = eng.ksql(stmt)
                        with tracer.span("ksql.select_exec", jobs="ksql.select"):
                            rows = df.collect()
                elif tracer is None:
                    eng.ksql(stmt)
                else:
                    with tracer.span("ksql.insert"):
                        eng.ksql(stmt)
            except Exception as exc:  # a raising statement is a failure
                self.failed += 1
                self.errors.append(f"{stmt[:60]!r} raised {exc!r}"[:300])
                continue
            out.append((kind, idx, time.perf_counter() - t0))
            if kind == "read":
                bad = read_mismatch(read_state(rows), model.player_stats())
                if bad is not None:
                    self.errors.append(bad)
            else:
                model.apply(kind, rec)
        return out


def layer_metrics(tracer) -> dict[str, float]:
    return {
        "ksql.dialect_ms": tracer.total_ms("ksql.dialect", outermost=True),
        "ksql.insert_ms": tracer.total_ms("ksql.insert"),
        "ksql.select_build_ms": tracer.total_ms("ksql.select_build"),
        "ksql.select_exec_ms": tracer.total_ms("ksql.select_exec"),
        "ksql.select_jobs": tracer.job_stats("ksql.select")["jobs"],
        "ksql.create_dataframe_calls": float(tracer.n_spans("ksql.create_dataframe")),
        "ksql.create_dataframe_rows": tracer.counts.get("ksql.create_dataframe.rows", 0.0),
        "ksql.create_dataframe_ms": tracer.total_ms("ksql.create_dataframe"),
        "ksql.view_registrations": float(tracer.n_spans("ksql.view_registration")),
        "ksql.view_registration_ms": tracer.total_ms("ksql.view_registration"),
    }

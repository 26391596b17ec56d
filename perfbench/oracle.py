"""DuckDB oracles over the same parquet inputs the engine reads.

Answers are compared by row count plus the order-insensitive
``value_hash`` of the repository's contract checker, so the gate is the
one the contract registry is held to. Expected answers are computed once
per invocation, before any timed window opens.
"""

from __future__ import annotations

import json
import os

import duckdb

from check_contract import value_hash  # scripts/ is put on sys.path by run.py


def fingerprint(rows: list[tuple], cols: list[str]) -> tuple[int, str]:
    return len(rows), value_hash(rows, cols)


class Oracle:
    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")  # stdout is the result's
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def materialize(self, name: str, sql: str) -> None:
        """Keep an oracle result as a table later oracle queries read."""
        self.con.execute(f"CREATE TABLE {name} AS {sql}")

    def rows(self, sql: str) -> tuple[list[tuple], list[str]]:
        res = self.con.execute(sql)
        return res.fetchall(), [d[0] for d in res.description]

    def expect(self, sql: str) -> tuple[int, str]:
        return fingerprint(*self.rows(sql))

    def close(self) -> None:
        self.con.close()


def _nt_escape(value: str) -> str:
    return (value.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r"))


def json_term(b: dict) -> str:
    """A SPARQL-JSON binding back to the N-Triples lexical form the
    engine's triple columns and the oracle SQL use."""
    if b["type"] == "uri":
        return f"<{b['value']}>"
    if b["type"] == "bnode":
        return f"_:{b['value']}"
    lex = f'"{_nt_escape(b["value"])}"'
    if "xml:lang" in b:
        return f"{lex}@{b['xml:lang']}"
    if "datatype" in b:
        return f"{lex}^^<{b['datatype']}>"
    return lex


def sparql_json_fingerprint(body: str) -> tuple[int, str]:
    doc = json.loads(body)
    if "boolean" in doc:
        return fingerprint([(doc["boolean"],)], ["answer"])
    cols = doc["head"]["vars"]
    rows = [tuple(json_term(b[c]) if c in b else None for c in cols)
            for b in doc["results"]["bindings"]]
    return fingerprint(rows, cols)


def ntriples_rows(text: str) -> list[tuple[str, str, str]]:
    """``s p o .`` lines -> (subj, pred, obj); subjects and predicates hold
    no spaces, the object is the rest of the line."""
    out = []
    for line in text.splitlines():
        if line:
            s, p, rest = line.split(" ", 2)
            out.append((s, p, rest[:-2]))
    return out

"""Output checks: every op's outputs against DuckDB oracles and invariants.

Each check returns a list of mismatch descriptions; an empty list means the
op's outputs are correct.
"""
import math
import sys
from pathlib import Path

import duckdb

# the harness's oracle comparison, shared with the project's checker
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check import TABLES, canon, cell  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


# ------------------------------------------------------------------ pipeline

def pipeline_expected(con, oracle):
    """The asset row counts and check report the DAG must produce, from the
    oracled pipeline chains (pl1-pl8) plus the fixture rules the remaining
    assets follow (Fixtures.releaseGroupFixture, Assets.extractCountries,
    Assets.graphTables)."""
    def n(sql):
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    artists = oracle["pl2_artists"]
    resolved = f"SELECT * FROM ({artists}) WHERE country IN (SELECT n_name FROM nation)"
    counts = {
        "artist_index": n(oracle["pl1_artist_index"]),
        "artists": n(artists),
        "countries": n(f"SELECT DISTINCT country FROM ({resolved})"),
        "unresolved_countries": n(
            f"SELECT DISTINCT country FROM ({artists}) "
            "WHERE country NOT IN (SELECT n_name FROM nation)"),
        "articles": n(oracle["pl3_article_chunks"]),
        # Album/Single release groups without secondary types, of known artists
        "releases": n(
            f"SELECT * FROM orders WHERE 'Q' || CAST(o_custkey AS VARCHAR) IN "
            f"(SELECT id FROM ({artists})) AND o_orderkey % 3 IN (0, 1) AND o_orderkey % 7 <> 0"),
        "tracks": n(oracle["pl5_tracks"]),
        "genres": n(oracle["pl6_genres"]),
        "genres_articles": n(
            f"SELECT * FROM ({oracle['pl7_article_merge']}) WHERE entity_type = 'genre'"),
        "wikipedia_articles": n(oracle["pl7_article_merge"]),
        "vector_db": n(oracle["pl8_vector_ingest"]),
        "graph_edges": n(resolved),
    }
    counts["graph_nodes"] = counts["artists"] + counts["countries"]
    checks = {c: (v, p) for c, v, p in con.execute(oracle["pl4_check_report"]).fetchall()}
    return counts, checks


def check_pipeline(result, expected):
    counts, checks = expected
    bad = [f"{k}: got {v}, want {counts.get(k)}"
           for k, v in result["counts"].items() if v != counts.get(k)]
    got = {c["check"]: (c["value"], c["passed"]) for c in result["checks"]}
    if set(got) != set(checks):
        bad.append(f"checks: got {sorted(got)}, want {sorted(checks)}")
    for c, (v, p) in got.items():
        if c in checks and (not math.isclose(v, checks[c][0], abs_tol=1e-9) or p != checks[c][1]):
            bad.append(f"check {c}: got ({v}, {p}), want {checks[c]}")
        if not p:
            bad.append(f"check {c} failed (value {v})")
    return bad


# ------------------------------------------------------------------- queries

def compare_frames(got, want):
    """None when equal under the harness's oracle comparison (columns sorted
    by name, rows by value, cells by `repr` with NaN equal to NaN), else
    the first difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = got.map(cell), want.map(cell)
    if g.equals(w):
        return None
    row = (g != w).any(axis=1).idxmax()
    return f"row {row}: got {got.loc[row].to_dict()} want {want.loc[row].to_dict()}"


class QueryOracle:
    """DuckDB results of the oracle statements, computed once per run."""

    def __init__(self, con, oracle, names):
        self.con = con
        self.want = {n: con.execute(oracle[n]).fetchdf() for n in names}

    def check(self, result_dir):
        bad = []
        for name, want in self.want.items():
            files = list(Path(result_dir, name).glob("*.parquet"))
            if not files:
                bad.append(f"{name}: no output")
                continue
            got = self.con.execute(
                f"SELECT * FROM read_parquet('{result_dir}/{name}/*.parquet')").fetchdf()
            diff = compare_frames(got, want)
            if diff:
                bad.append(f"{name}: {diff}")
        return bad


# -------------------------------------------------------------------- funnel

def check_funnel(result):
    """Seed-independent funnel invariants after every drained micro-batch:
    no document is lost by the gate, and every packed event after a user's
    first emits exactly one transition pair."""
    bad = []
    if result["kept"] + result["quarantined"] != result["fed"]:
        bad.append(f"kept {result['kept']} + quarantined {result['quarantined']} "
                   f"!= fed {result['fed']}")
    if result["pairs"] != result["packed"] - result["users"]:
        bad.append(f"pairs {result['pairs']} != packed {result['packed']} - users {result['users']}")
    return bad


def check_compaction(record):
    if record["rows_after"] != record["rows_before"]:
        return [f"compaction changed index rows {record['rows_before']} -> {record['rows_after']}"]
    return []

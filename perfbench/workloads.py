"""Seeded statement streams, one per workload.

A statement is a dict:
  key     the distinct statement it counts as in lat_geomean_ms
  sql     the text sent (with $n placeholders for the prepared shape)
  shape   plain | twostep | prepared (see flightsql.py)
  params  values bound to $1.. for the prepared shape
  oracle  the DuckDB text its result is checked against
  check   "oracle" (compare with DuckDB) or "extensions" (catalog smoke)

Each generator returns decks, lists of statements: a deck holds every
template in fixed proportions and the seed only shuffles the order and draws
the literal values, so two seeds send the same mix. The same seed always
yields the same statements.
"""
import random

from gendata import SF01_ROWS

# Latency limit per workload (ms): a failed, refused or wrong statement is
# charged this in every latency metric, and a statement that takes longer is
# cut off and fails. Far above the slowest statement of each workload (micro
# 1.1 s, analytic 2 s, warm), so that a slow stretch of a shared host does
# not turn into failures.
LIMIT_MS = {"micro": 10000.0, "analytic": 60000.0}

# Scale factor of each workload's dataset. micro runs on the small tier so
# that execution stays negligible next to the fixed cost per statement.
SCALE = {"micro": 0.01, "analytic": 0.01}

EXTENSIONS_SQL = "SELECT extension_name FROM duckdb_extensions() WHERE installed"

# Oracle texts that fail over Flight at sf0.01 on the seed, with their
# class. The timed workloads carry no failing statement; the gate mode of
# run.py sends every text and names each failure.
EXCLUDED = {
    "a17_histogram": "error: generator nested in an expression",
    "dd_components": "error: UNION inside a recursive CTE",
    "dd_containment": "error: subscript inside a lambda",
    "dd_incremental": "error: subscript inside a lambda",
    "dd_incremental_indexed": "error: subscript inside a lambda",
    "dd_incremental_lookup": "error: subscript inside a lambda",
    "dd_minhash_lsh": "error: subscript inside a lambda",
    "dd_ngram_jaccard": "error: subscript inside a lambda",
    "ev_attribution": "error: parse",
    "f_datetime": "wrong: TIMESTAMP where DuckDB returns TIMESTAMP without zone",
    "f_string": "wrong: '' where DuckDB returns text",
    "f_time": "error: timestampdiff unresolved",
    "j10_positional_join": "error: parse (POSITIONAL JOIN)",
    "mm_phash_dedup": "error: generator nested in an expression",
    "mm_resize": "wrong: rounding (223 vs 224)",
    "pipe_compact": "error: subscript inside a lambda",
    "pipe_leakage": "error: generator nested in an expression",
    "t1_date_series": "error: generator nested in an expression",
    "t2_posexplode": "error: alias resolution",
    "t4_unpivot": "error: parse",
    "tx_bigram_lm": "error: subscript inside a lambda",
    "tx_chunk": "error: generator nested in an expression",
    "tx_decontaminate": "error: subscript inside a lambda",
    "tx_quality_score": "error: lambda type",
    "tx_repetition": "error: subscript inside a lambda",
    "tx_source_stats": "error: correlated scalar subquery in an aggregate",
    "tx_span_dedup": "error: subscript inside a lambda",
}

# Passing texts slower than 2 s warm over Flight at sf0.01 on the seed (one
# client). One of them would be the long pole of every timed pass, which has
# to fit one run with the server launch and a warm-up pass; the gate mode
# sends them all.
SLOW = {
    "j7_asof_inner": "4.0 s",
    "j7_asof_join": "4.0 s",
    "pipe_embed_dedup": "2.0 s",
    "pipe_pack": "24 s",
    "t6_recursive_cte": "2.1 s",
}

# The panel is a systematic sample: every PANEL_STRIDE-th remaining text.
PANEL_STRIDE = 10


def rows(table, workload):
    """Row count of `table` in the workload's dataset (gendata.py)."""
    return int(round(SF01_ROWS[table] * SCALE[workload] / 0.1))


def _decks(rng, deck, n_decks):
    """n_decks shuffles of `deck`, a list of statement makers."""
    out = []
    for _ in range(n_decks):
        order = list(range(len(deck)))
        rng.shuffle(order)
        out.append([deck[i]() for i in order])
    return out


def _stmt(key, sql, shape="plain", params=(), oracle=None, check="oracle"):
    return {"key": key, "sql": sql, "shape": shape, "params": list(params),
            "oracle": oracle if oracle is not None else sql, "check": check}


def micro(seed, n_decks):
    """Small statements: fixed cost per statement dominates."""
    rng = random.Random(seed)
    n_orders = rows("orders", "micro")

    def point(shape):
        k = rng.randrange(n_orders)
        text = "SELECT * FROM orders WHERE o_orderkey = {}"
        if shape == "prepared":
            return _stmt("point/prepared", text.format("$1"), shape, [k], text.format(k))
        return _stmt(f"point/{shape}", text.format(k), shape)

    def limit5(shape):
        table, key = rng.choice([("orders", "o_orderkey"), ("customer", "c_custkey"),
                                 ("part", "p_partkey")])
        n = rows(table, "micro")
        k = rng.randrange(n - 5)
        text = f"SELECT * FROM {table} WHERE {key} >= {{}} ORDER BY {key} LIMIT 5"
        if shape == "prepared":
            return _stmt("limit5/prepared", text.format("$1"), shape, [k], text.format(k))
        return _stmt(f"limit5/{shape}", text.format(k), shape)

    def agg(shape):
        k = rng.randrange(20)
        return _stmt(f"agg/{shape}",
                     "SELECT r_name, count(*) AS nations, max(n_nationkey) AS max_key "
                     "FROM nation JOIN region ON n_regionkey = r_regionkey "
                     f"WHERE n_nationkey >= {k} GROUP BY r_name ORDER BY r_name", shape)

    deck = (
        [lambda: _stmt("select1/plain", "SELECT 1 AS a")] * 2
        + [lambda: _stmt("select1/twostep", "SELECT 1 AS a", "twostep")]
        + [lambda: _stmt("extensions/plain", EXTENSIONS_SQL, check="extensions")]
        + [lambda: point("plain")] * 4 + [lambda: point("twostep")] * 2
        + [lambda: point("prepared")] * 3
        + [lambda: limit5("plain")] * 2 + [lambda: limit5("twostep")]
        + [lambda: limit5("prepared")]
        + [lambda: agg("plain")] * 2 + [lambda: agg("twostep")])
    return _decks(rng, deck, n_decks)


def panel(names):
    """The fixed set of oracle texts the analytic workload sends: every
    PANEL_STRIDE-th passing name in sorted order. Fixed, so that seeds
    differ only in order."""
    passing = sorted(n for n in names if n not in EXCLUDED and n not in SLOW)
    return passing[::PANEL_STRIDE]


def analytic(seed, oracle_sql, n_passes):
    """Oracle texts exactly as a reference client sends them, one pass of
    the panel per deck in seeded order."""
    deck = [lambda n=n: _stmt(n, oracle_sql[n]) for n in panel(oracle_sql)]
    return _decks(random.Random(seed), deck, n_passes)


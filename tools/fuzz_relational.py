#!/usr/bin/env python3
"""Differential RELATIONAL fuzzer (companion to fuzz_scalar.py): random
whole queries — projections, grouped aggregates, window functions, set
ops — over the nation/region fixtures, validated under DuckDB 1.0, then
run through the engine's Gateway and compared row-for-row (every query
is fully ORDER BY-ed with explicit tie-breaks so both engines must
produce the identical ordered relation).

Usage: python3 tools/fuzz_relational.py [n=200] [seed=8] [--no-run]
                                        [--sf=/path/to/fixtures]

--sf points both engines at another fixture dir — the 10x pass uses the
ScaleGen corpus (/tmp/graft_sf1, multi-file parquet) so divergences that
only appear with multiple partitions (partial-agg ordering, window
partition boundaries, shuffle-dependent DECIMAL sums) are in the sweep.
At scale the generator adds orders/lineitem window+agg shapes whose
inputs genuinely span partitions; every query stays fully ORDER BY-ed.
"""
import json, math, random, subprocess, sys
from pathlib import Path

import duckdb

SF = "/root/testdata/sf0.001"


def main():
    global SF
    pin_shape = None
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            SF = a[len("--sf="):]
        if a.startswith("--shape="):  # dedicated single-shape sweep
            pin_shape = int(a[len("--shape="):])
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if len(args) > 0 else 200
    seed = int(args[1]) if len(args) > 1 else 8
    rng = random.Random(seed)

    int_exprs = ["n_nationkey", "n_regionkey", "(n_nationkey % 4)",
                 "(n_nationkey + n_regionkey)", "abs(n_nationkey - 12)",
                 "length(n_name)", "(n_nationkey * 3 % 7)"]
    str_exprs = ["n_name", "upper(n_name)", "left(n_name, 3)",
                 "reverse(n_name)", "substr(n_name, 2, 4)",
                 "concat(n_name, '-', CAST(n_regionkey AS VARCHAR))"]
    keys = ["n_regionkey", "(n_nationkey % 3)", "(length(n_name) % 4)"]
    aggs = [
        lambda e: f"count({e})",
        lambda e: f"count(DISTINCT {e})",
        lambda e: f"min({e})",
        lambda e: f"max({e})",
        lambda e: f"sum(CAST({e} AS BIGINT))",
        lambda e: f"round(avg(CAST({e} AS DOUBLE)), 6)",
        lambda e: f"CAST(median(CAST({e} AS DOUBLE)) AS DOUBLE)",
        lambda e: f"bool_and({e} > 5)",
        lambda e: f"bool_or({e} > 5)",
        lambda e: f"bit_and(CAST({e} AS BIGINT))",
        lambda e: f"bit_or(CAST({e} AS BIGINT))",
        lambda e: f"string_agg(CAST({e} AS VARCHAR), ',' ORDER BY {e}, n_nationkey)",
        lambda e: f"arg_min({e}, n_nationkey)",
        lambda e: f"arg_max({e}, n_nationkey)",
        lambda e: f"first({e} ORDER BY n_nationkey)",
        lambda e: f"last({e} ORDER BY n_nationkey)",
        lambda e: f"mode({e}) FILTER (WHERE n_nationkey > 2)",
        lambda e: f"count(*) FILTER (WHERE {e} IS NOT NULL)",
        # sample statistics (bias-corrected in both engines since r9)
        lambda e: f"round(skewness(CAST({e} AS DOUBLE)), 6)",
        lambda e: f"round(kurtosis(CAST({e} AS DOUBLE)), 6)",
        lambda e: f"round(sem(CAST({e} AS DOUBLE)), 6)",
        lambda e: f"round(entropy({e}), 6)",
        lambda e: f"CAST(round(fsum(CAST({e} AS DOUBLE)), 6) AS DOUBLE)",
        # r12 merged-structure aggregate: single object shape -> the
        # first-seen key order is trivially merge-order independent, and
        # the value's type flips UBIGINT/DOUBLE/NULL with the expr so the
        # lattice join is exercised
        lambda e: ("json_group_structure(('{\"a\":' || CASE WHEN ({e}) % 3 = 0"
                   " THEN 'null' WHEN ({e}) % 3 = 1 THEN CAST({e} AS VARCHAR)"
                   " ELSE CAST({e} AS VARCHAR) || '.5' END || '}')::JSON)")
            .replace("{e}", e),
    ]
    winfns = [
        "row_number()", "rank()", "dense_rank()",
        "CAST(percent_rank() AS DOUBLE)", "CAST(cume_dist() AS DOUBLE)",
        "ntile(3)", "lag(n_nationkey, 1) ", "lead(n_nationkey, 2)",
        "sum(n_nationkey)", "min(n_regionkey)", "count(*)",
        "first_value(n_name)", "last_value(n_name)",
    ]
    frames = ["", " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
              " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
              " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"]

    def gen(rng):
        shape = pin_shape if pin_shape is not None else rng.randrange(21)
        if shape == 20:  # WITH RECURSIVE over an edge set derived from nation:
            # bare-UNION closure (the edges wrap mod 25, so the graph is
            # cyclic and only convergence stops it), bare UNION or UNION
            # ALL with a depth bound; the step reads the edge CTE and
            # sometimes a second CTE in an IN-subquery; sometimes an edge
            # column is named like the recursive CTE, and sometimes a CTE
            # after the recursive one reads it
            mul, add = rng.choice([(1, 1), (2, 3), (3, 1), (7, 2), (4, 5)])
            extra = ", n_regionkey AS r" if rng.random() < 0.3 else ""
            edges = (f"SELECT n_nationkey AS a, (n_nationkey * {mul} + {add}) % 25 "
                     f"AS b{extra} FROM nation")
            if rng.random() < 0.5:
                edges += (" UNION ALL SELECT n_nationkey AS a, (n_nationkey + 5) % 25 "
                          f"AS b{extra} FROM nation")
            ctes = [f"e AS ({edges})"]
            conds = []
            if rng.random() < 0.5:
                ctes.append("k AS (SELECT n_nationkey AS id FROM nation "
                            f"WHERE n_regionkey <> {rng.randrange(5)})")
                conds.append("e.b IN (SELECT id FROM k)")
            start = rng.randrange(25)
            kind = rng.choice(["closure", "depth", "all"])
            if kind == "closure":
                where = f" WHERE {' AND '.join(conds)}" if conds else ""
                ctes.append(f"r(node) AS (SELECT {start} UNION SELECT e.b "
                            f"FROM r JOIN e ON e.a = r.node{where})")
            else:
                conds.insert(0, f"r.d < {rng.randint(1, 6)}")
                op = "UNION" if kind == "depth" else "UNION ALL"
                ctes.append(f"r(node, d) AS (SELECT {start}, 0 {op} SELECT e.b, "
                            f"r.d + 1 FROM r JOIN e ON e.a = r.node "
                            f"WHERE {' AND '.join(conds)})")
            src = "r"
            if rng.random() < 0.3:
                ctes.append("t AS (SELECT * FROM r)")
                src = "t"
            if kind == "closure":
                outer = rng.choice([
                    f"SELECT node FROM {src} ORDER BY node",
                    f"SELECT count(*) AS c, sum(node) AS s FROM {src}",
                    f"SELECT n_name FROM nation JOIN {src} ON n_nationkey = node "
                    "ORDER BY n_name"])
            else:
                outer = rng.choice([
                    f"SELECT node, min(d) AS d, count(*) AS c FROM {src} "
                    "GROUP BY node ORDER BY node",
                    f"SELECT d, count(*) AS c FROM {src} GROUP BY d ORDER BY d"])
            return f"WITH RECURSIVE {', '.join(ctes)} {outer}"
        if shape == 19:  # ASOF: {LEFT, inner} x {>=, >, <=, <} x {0, 1, 2
            # keys}. The right ts is n_nationkey, unique, so no tie between
            # right rows can make the match engine-dependent; left ts values
            # do tie with right ones, which separates strict from inclusive
            if rng.random() < 0.5:
                lsrc = ("SELECT n_nationkey AS id, n_regionkey AS k1, "
                        "length(n_name) % 2 AS k2, "
                        f"{rng.choice(['(n_nationkey * 7) % 25', '24 - n_nationkey', '(n_nationkey * 3) % 25'])}"
                        " AS t FROM nation")
            else:
                lsrc = ("SELECT r_regionkey AS id, r_regionkey AS k1, "
                        "length(r_name) % 2 AS k2, r_regionkey * 6 AS t FROM region")
            rsrc = ("SELECT n_nationkey AS m, n_regionkey AS k1, n_nationkey % 2 AS k2, "
                    "n_nationkey AS t, n_name FROM nation")
            cte = rng.random() < 0.3
            r = "rr" if cte else "r"
            on_keys = [f"l.k1 = {r}.k1", f"{r}.k2 = l.k2"][:rng.randint(0, 2)]
            op = rng.choice([">=", ">", "<=", "<"])
            flip = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}
            ineq = (f"l.t {op} {r}.t" if rng.random() < 0.5
                    else f"{r}.t {flip[op]} l.t")
            conds = on_keys + [ineq]
            rng.shuffle(conds)
            join = rng.choice(["ASOF LEFT JOIN", "ASOF JOIN"])
            right = r if cte else f"({rsrc}) r"
            return ((f"WITH rr AS ({rsrc}) " if cte else "") +
                    f"SELECT l.id, l.t, {r}.m, {r}.n_name FROM ({lsrc}) l "
                    f"{join} {right} ON {' AND '.join(conds)} "
                    f"ORDER BY l.id ASC NULLS LAST")
        if shape == 18:  # r11: list_* stat sugar + pragma TVFs composed
            # relationally (VERDICT r10 item 7 — the stage-3/4 shims were
            # audited as isolated calls only)
            pick = rng.random()
            if pick < 0.45:  # list_<stat> over grouped list()
                st = rng.choice(["list_sum", "list_avg", "list_median",
                                 "list_min", "list_max"])
                return (f"SELECT n_regionkey AS k, "
                        f"CAST(round({st}(list(CAST(n_nationkey AS DOUBLE) "
                        f"ORDER BY n_nationkey)), 6) AS DOUBLE) AS a "
                        f"FROM nation GROUP BY n_regionkey "
                        f"ORDER BY k ASC NULLS LAST")
            if pick < 0.6:  # list sugar inside a window projection
                st = rng.choice(["list_sum", "list_min", "list_max"])
                return (f"SELECT n_nationkey, CAST({st}("
                        f"list(CAST(n_nationkey AS DOUBLE)) OVER ("
                        f"ORDER BY n_nationkey ASC ROWS BETWEEN 2 PRECEDING "
                        f"AND CURRENT ROW)) AS DOUBLE) AS w "
                        f"FROM nation ORDER BY n_nationkey ASC NULLS LAST")
            if pick < 0.8:  # pragma TVF filtered/ordered
                t = rng.choice(["nation", "region", "orders"])
                return (f"SELECT name FROM pragma_table_info('{t}') "
                        f"WHERE name LIKE '%_%' ORDER BY name ASC NULLS LAST")
            # pragma TVF joined against data and grouped
            return ("SELECT t.name AS k, count(*) AS c "
                    "FROM pragma_table_info('nation') t CROSS JOIN region "
                    "GROUP BY t.name ORDER BY k ASC NULLS LAST")
        if shape == 16:  # window FILTER × frames/partitions (r10: composes
            # the rewriteWindowFilter fold with EXCLUDE/GROUPS rewrites;
            # r11 adds the collect-over-frame path — arbitrary is DuckDB
            # 1.0's aggregate spelling of first, whose parser rejects
            # first/last over windows; the engine serves those too,
            # GatewaySpec-pinned)
            fn = rng.choice([
                "count(*)",
                "sum(CAST(n_nationkey AS BIGINT))",
                "min(n_nationkey)", "max(n_regionkey)",
                "CAST(round(avg(CAST(n_nationkey AS DOUBLE)), 6) AS DOUBLE)",
                "bool_and(n_nationkey % 2 = 0)",
                "bool_or(n_regionkey > 2)"])
            pred = rng.choice([
                "n_nationkey % 2 = 0", "n_regionkey > 1",
                "length(n_name) > 6", "n_name LIKE '%A%'"])
            frame = rng.choice([
                "", " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
                " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW",
                " GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING"])
            part = rng.choice(["PARTITION BY n_regionkey ", ""])
            okey = rng.choice(["n_nationkey", "(n_nationkey % 5)"])
            if rng.random() < 0.35:  # r11 collect-over-frame path:
                # arbitrary/any_value/array_agg/list under window FILTER
                # (DuckDB 1.0 answers these; its parser rejects the
                # first/last spellings, which share the arbitrary path
                # and are GatewaySpec-pinned instead)
                # r12 (VERDICT item 8): composed with EXCLUDE frames,
                # GROUPS frames, TIED order keys (so EXCLUDE GROUP/TIES
                # actually excludes peers), and NAMED WINDOW references
                # — the rewriteWindowFilter fold text-manipulates
                # OVER (...) refs and named windows, so these
                # compositions are its adversarial surface.
                cfn = rng.choice(["arbitrary", "any_value"])
                cframe = rng.choice([
                    "", " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
                    " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                    " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW",
                    " ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP",
                    " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE TIES",
                    " GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                    " GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES",
                    " GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP"])
                # TRUE peer groups need a tied ordering with NO unique
                # tail — but then collect ORDER is engine-dependent, so
                # that branch projects only order-INSENSITIVE results
                # (lengths); the order-sensitive projections below keep
                # a unique tail (peers become singletons — still
                # exercises the EXCLUDE/named-window text rewrites)
                if rng.random() < 0.35:
                    pokey = rng.choice(["(n_nationkey % 5)", "(n_nationkey % 3)",
                                        "n_regionkey"])
                    pspec = f"{part}ORDER BY {pokey} ASC{cframe}"
                    pnamed = rng.random() < 0.5
                    pwc = "OVER w" if pnamed else f"OVER ({pspec})"
                    pwdef = f" WINDOW w AS ({pspec})" if pnamed else ""
                    lfn0 = rng.choice(["array_agg", "list"])
                    return (f"SELECT n_nationkey, "
                            f"coalesce(len({lfn0}(n_name) FILTER (WHERE {pred}) {pwc}), -1) AS c1, "
                            f"count(*) FILTER (WHERE {pred}) {pwc} AS c2 "
                            f"FROM nation{pwdef} "
                            f"ORDER BY n_nationkey ASC NULLS LAST")
                cokey = rng.choice(["n_nationkey", "(n_nationkey % 5)",
                                    "(n_nationkey % 3)"])
                tie = "" if cokey == "n_nationkey" else ", n_nationkey ASC"
                spec = f"{part}ORDER BY {cokey} ASC{tie}{cframe}"
                named = rng.random() < 0.5
                wc = "OVER w" if named else f"OVER ({spec})"
                wdef = f" WINDOW w AS ({spec})" if named else ""
                if rng.random() < 0.5:
                    # two collect-path aggregates referencing the SAME
                    # named window when named
                    return (f"SELECT n_nationkey, "
                            f"{cfn}(n_name) FILTER (WHERE {pred}) {wc} AS w1, "
                            f"{cfn}(left(n_name, 2)) FILTER "
                            f"(WHERE n_regionkey > 0) {wc} AS w2 "
                            f"FROM nation{wdef} "
                            f"ORDER BY n_nationkey ASC NULLS LAST")
                lfn = rng.choice(["array_agg", "list"])
                return (f"SELECT n_nationkey, "
                        f"coalesce(len({lfn}(n_name) FILTER (WHERE {pred}) {wc}), -1) AS c, "
                        f"array_to_string({lfn}(left(n_name, 2)) "
                        f"FILTER (WHERE {pred}) {wc}, '|') AS s "
                        f"FROM nation{wdef} "
                        f"ORDER BY n_nationkey ASC NULLS LAST")
            if rng.random() < 0.3:  # grouped FILTER under grouping sets
                g = rng.choice(["ROLLUP(n_regionkey)",
                                "GROUPING SETS ((n_regionkey), ())",
                                "CUBE(n_regionkey)"])
                return (f"SELECT n_regionkey, "
                        f"count(*) FILTER (WHERE {pred}) AS cf, "
                        f"sum(CAST(n_nationkey AS BIGINT)) "
                        f"FILTER (WHERE length(n_name) > 6) AS sf "
                        f"FROM nation GROUP BY {g} "
                        f"ORDER BY n_regionkey ASC NULLS LAST, cf ASC NULLS LAST")
            return (f"SELECT n_nationkey, {fn} FILTER (WHERE {pred}) "
                    f"OVER ({part}ORDER BY {okey} ASC{frame}) AS w "
                    f"FROM nation ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 17:  # JSON constructors composed relationally (r10)
            je = rng.choice([
                "json(props)", "json_quote(event_type)",
                "json_array(event_id % 5, event_type)",
                "json_object('t', event_type, 'n', event_id % 7)",
                "json_extract(props, '/k')", "json_type(props)"])
            pick = rng.random()
            if pick < 0.3:  # grouped over ctor output + FILTER clause
                return (f"SELECT event_type AS k, count(DISTINCT {je}) AS c, "
                        f"min(CAST({je} AS VARCHAR)) AS m, "
                        f"count({je}) FILTER (WHERE event_id % 3 = 0) AS cf "
                        f"FROM events WHERE event_id < 2000 "
                        f"GROUP BY event_type ORDER BY k ASC NULLS LAST")
            if pick < 0.6:  # rollup over ctor
                return (f"SELECT event_type AS k, count({je}) AS c "
                        f"FROM events WHERE event_id < 2000 "
                        f"GROUP BY ROLLUP(event_type) "
                        f"ORDER BY k ASC NULLS LAST, c ASC NULLS LAST")
            if pick < 0.85:  # window over ctor with frame
                fr = rng.choice([" ROWS BETWEEN 1 PRECEDING AND CURRENT ROW", ""])
                return (f"SELECT event_id AS k, "
                        f"first_value(CAST({je} AS VARCHAR)) "
                        f"OVER (PARTITION BY event_type "
                        f"ORDER BY event_id ASC{fr}) AS w "
                        f"FROM events WHERE event_id < 500 "
                        f"ORDER BY k ASC NULLS LAST")
            return (f"SELECT event_type AS k, "
                    f"string_agg(CAST({je} AS VARCHAR), '|' ORDER BY event_id) AS s "
                    f"FROM events WHERE event_id < 200 "
                    f"GROUP BY event_type ORDER BY k ASC NULLS LAST")
        if shape == 14:  # join variety over nation/region (outer/semi/anti)
            jt = rng.choice(["LEFT", "RIGHT", "FULL", "SEMI", "ANTI"])
            pred = rng.choice(["", " AND r_regionkey > 1",
                               " AND r_name LIKE 'A%'"])
            if jt in ("SEMI", "ANTI"):
                return (f"SELECT n_nationkey, n_name FROM nation "
                        f"{jt} JOIN region ON n_regionkey = r_regionkey{pred} "
                        f"ORDER BY n_nationkey ASC NULLS LAST")
            return (f"SELECT n_nationkey, r_name FROM nation "
                    f"{jt} JOIN region ON n_regionkey = r_regionkey{pred} "
                    f"ORDER BY n_nationkey ASC NULLS LAST, "
                    f"r_name ASC NULLS LAST")
        if shape == 15:  # correlated EXISTS / set ops over orders (scale)
            if rng.random() < 0.5:
                m = rng.randint(3, 9)
                neg = rng.choice(["", "NOT "])
                return (f"SELECT o_orderkey FROM orders o "
                        f"WHERE o_orderkey % {m} = 0 AND {neg}EXISTS ("
                        f"SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
                        f"AND l.l_quantity > 45) "
                        f"ORDER BY o_orderkey ASC NULLS LAST LIMIT 50")
            op = rng.choice(["INTERSECT", "EXCEPT", "UNION"])
            m1, m2 = rng.randint(2, 5), rng.randint(2, 5)
            return (f"SELECT o_custkey % 100 AS v FROM orders WHERE o_orderkey % {m1} = 0 "
                    f"{op} SELECT o_custkey % 100 AS v FROM orders WHERE o_orderkey % {m2} = 0 "
                    f"ORDER BY v ASC NULLS LAST")
        if shape == 12:  # multi-partition window over orders (scale-sensitive)
            wf = rng.choice([
                "row_number()", "rank()",
                "sum(CAST(o_totalprice AS DECIMAL(18,2)))",
                "count(*)", "lag(o_orderkey, 1)",
                "min(o_orderdate)"])
            frame = (" ROWS BETWEEN 3 PRECEDING AND CURRENT ROW"
                     if wf.split("(")[0] in ("sum", "count", "min")
                     and rng.random() < 0.5 else "")
            m = rng.randint(50, 400)
            return (f"SELECT o_orderkey, {wf} OVER (PARTITION BY o_custkey % 8 "
                    f"ORDER BY o_orderkey ASC{frame}) AS w FROM orders "
                    f"WHERE o_orderkey % {m} = 0 "
                    f"ORDER BY o_orderkey ASC NULLS LAST LIMIT 100")
        if shape == 13:  # multi-partition grouped DISTINCT/stat aggs (orders)
            agg = rng.choice([
                "count(DISTINCT o_custkey)",
                "sum(DISTINCT CAST(o_orderkey % 97 AS BIGINT))",
                "CAST(round(stddev_samp(CAST(o_totalprice AS DOUBLE)), 4) AS DOUBLE)",
                "sum(CAST(o_totalprice AS DECIMAL(18,2)))",
                "max(o_orderpriority)", "arg_min(o_orderpriority, o_orderkey)"])
            k = rng.choice(["o_orderstatus",
                            "(o_custkey % 5)", "o_orderpriority"])
            return (f"SELECT {k} AS k, {agg} AS a FROM orders "
                    f"WHERE o_orderkey % {rng.randint(2, 5)} = 0 "
                    f"GROUP BY {k} ORDER BY k ASC NULLS LAST")
        if shape == 11:  # date-keyed grouping over orders
            key = rng.choice([
                "date_trunc('month', o_orderdate)",
                "date_part('year', o_orderdate)",
                "strftime(o_orderdate, '%Y-%m')",
                "date_part('quarter', o_orderdate)"])
            agg = rng.choice([
                "count(*)", "sum(CAST(o_totalprice AS DECIMAL(18,2)))",
                "min(o_orderdate)", "max(o_orderpriority)",
                "count(DISTINCT o_custkey)"])
            return (f"SELECT CAST({key} AS VARCHAR) AS k, {agg} AS a "
                    f"FROM orders WHERE o_orderkey % {rng.randint(2, 5)} = 0 "
                    f"GROUP BY {key} ORDER BY k ASC NULLS LAST LIMIT 24")
        if shape == 9:  # EXCLUDE / GROUPS frames (hand-rolled rewrites)
            frame = rng.choice([
                "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW",
                "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP",
                "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE TIES",
                "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                "GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"])
            part = rng.choice(["PARTITION BY n_regionkey ", ""])
            okey = rng.choice(["n_nationkey", "(n_nationkey % 5)"])
            if rng.random() < 0.4:  # r12: the ORDER-SENSITIVE collect
                # family under EXCLUDE (plain, no FILTER) — total order
                # (unique tail) keeps frame order engine-independent;
                # RANGE over a tied key covers the peer-aligned case
                # with an order-insensitive projection
                if rng.random() < 0.3:
                    return (f"SELECT n_nationkey, "
                            f"coalesce(len(list(n_name) OVER ({part}"
                            f"ORDER BY (n_nationkey % 4) ASC RANGE BETWEEN "
                            f"UNBOUNDED PRECEDING AND CURRENT ROW "
                            f"EXCLUDE {rng.choice(['GROUP', 'TIES'])})), -1) AS c "
                            f"FROM nation ORDER BY n_nationkey ASC NULLS LAST")
                tokey = okey if okey == "n_nationkey" else f"{okey} ASC, n_nationkey"
                spec = f"{part}ORDER BY {tokey} ASC {frame}"
                cagg = rng.choice([
                    "array_to_string(array_agg(left(n_name, 2)) OVER ({0}), '|')",
                    "array_to_string(list(n_name) OVER ({0}), '+')",
                    "first(n_name) OVER ({0})",
                    "last(n_name) OVER ({0})",
                    "any_value(n_name) OVER ({0})",
                    "string_agg(n_name, '/') OVER ({0})",
                    "string_agg(n_nationkey, '-') OVER ({0})",
                ]).format(spec)
                return (f"SELECT n_nationkey, coalesce({cagg}, '-') AS w "
                        f"FROM nation ORDER BY n_nationkey ASC NULLS LAST")
            agg = rng.choice(["sum(n_nationkey)", "count(*)",
                              "min(n_nationkey)", "max(n_regionkey)"])
            return (f"SELECT n_nationkey, {agg} OVER ({part}"
                    f"ORDER BY {okey} ASC {frame}) AS w FROM nation "
                    f"ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 10:  # QUALIFY
            wf = rng.choice(["row_number()", "rank()", "dense_rank()"])
            k = rng.randint(1, 3)
            return (f"SELECT n_nationkey, n_regionkey FROM nation "
                    f"QUALIFY {wf} OVER (PARTITION BY n_regionkey "
                    f"ORDER BY n_nationkey ASC) <= {k} "
                    f"ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 5:  # IN / NOT IN / EXISTS subquery
            sub = rng.choice([
                "SELECT r_regionkey FROM region WHERE r_regionkey > 1",
                "SELECT n_regionkey FROM nation WHERE n_nationkey < 9",
                "SELECT r_regionkey FROM region WHERE r_name LIKE 'A%'"])
            form = rng.choice([
                f"n_regionkey IN ({sub})",
                f"n_regionkey NOT IN ({sub})",
                f"EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey AND r_regionkey > 1)",
                f"NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey AND r_name LIKE 'E%')"])
            return (f"SELECT n_nationkey, n_name FROM nation WHERE {form} "
                    f"ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 6:  # correlated scalar subquery
            return ("SELECT n_nationkey, "
                    "(SELECT r_name FROM region WHERE r_regionkey = n_regionkey) AS rn "
                    "FROM nation ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 7:  # CTE + DISTINCT + LIMIT/OFFSET
            lim = rng.randint(1, 10)
            off = rng.randint(0, 5)
            return (f"WITH x AS (SELECT DISTINCT n_regionkey AS k FROM nation) "
                    f"SELECT k FROM x ORDER BY k ASC NULLS LAST "
                    f"LIMIT {lim} OFFSET {off}")
        if shape == 4 and rng.random() < 0.5:  # decimal aggregates (lineitem)
            de = rng.choice([
                "CAST(l_quantity AS DECIMAL(12,2))",
                "CAST(l_extendedprice AS DECIMAL(18,2))",
                "CAST(l_discount AS DECIMAL(4,2))",
                "(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))"])
            agg = rng.choice([
                f"sum({de})", f"min({de})", f"max({de})",
                f"CAST(round(avg({de}), 6) AS DOUBLE)",
                f"count(DISTINCT {de})"])
            return (f"SELECT l_returnflag AS k, {agg} AS a FROM lineitem "
                    f"WHERE l_orderkey % {rng.randint(2, 7)} = 0 "
                    f"GROUP BY l_returnflag ORDER BY k ASC NULLS LAST")
        if shape == 8:  # grouping sets / rollup
            g = rng.choice(["ROLLUP(n_regionkey)",
                            "CUBE(n_regionkey, (n_nationkey % 2))",
                            "GROUPING SETS ((n_regionkey), ())"])
            return (f"SELECT n_regionkey, count(*) AS c, "
                    f"sum(CAST(n_nationkey AS BIGINT)) AS s FROM nation "
                    f"GROUP BY {g} "
                    f"ORDER BY n_regionkey ASC NULLS LAST, c ASC NULLS LAST")
        if shape == 0:  # projection + filter
            cols = rng.sample(int_exprs + str_exprs, rng.randint(1, 3))
            sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(cols))
            pred = rng.choice([
                "n_nationkey > 7", "n_regionkey IN (1, 3)",
                "n_name LIKE '%A%'", "n_nationkey % 2 = 0",
                "length(n_name) BETWEEN 5 AND 9", "TRUE"])
            return (f"SELECT {sel} FROM nation WHERE {pred} "
                    f"ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 1:  # grouped aggregate
            k = rng.choice(keys)
            picks = rng.sample(aggs, rng.randint(1, 3))
            e = rng.choice(int_exprs)
            sel = ", ".join(f"{a(e)} AS a{i}" for i, a in enumerate(picks))
            having = rng.choice(["", " HAVING count(*) > 1"])
            return (f"SELECT {k} AS k, {sel} FROM nation GROUP BY {k}"
                    f"{having} ORDER BY k ASC NULLS LAST")
        if shape == 2:  # window
            f = rng.choice(winfns)
            part = rng.choice(["PARTITION BY n_regionkey ", ""])
            frame = rng.choice(frames) if f.split("(")[0] in (
                "sum", "min", "count", "first_value", "last_value") else ""
            return (f"SELECT n_nationkey, {f} OVER ({part}"
                    f"ORDER BY n_nationkey ASC{frame}) AS w FROM nation "
                    f"ORDER BY n_nationkey ASC NULLS LAST")
        if shape == 3:  # set op over projections
            op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
            e = rng.choice(int_exprs)
            return (f"SELECT {e} AS v FROM nation WHERE n_nationkey < 15 "
                    f"{op} SELECT {e} AS v FROM nation WHERE n_regionkey > 1 "
                    f"ORDER BY v ASC NULLS LAST")
        # join + aggregate
        e = rng.choice(["count(*)", "sum(CAST(n_nationkey AS BIGINT))",
                        "min(n_name)"])
        return (f"SELECT r_name, {e} AS a FROM nation "
                f"JOIN region ON n_regionkey = r_regionkey "
                f"GROUP BY r_name ORDER BY r_name ASC NULLS LAST")

    con = duckdb.connect()
    for t in ["nation", "region", "lineitem", "orders", "events"]:
        p = Path(SF) / f"{t}.parquet"
        # ScaleGen writes multi-file parquet DIRECTORIES; glob those
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    kept, duck_rows = [], []
    tries = 0
    while len(kept) < n and tries < n * 30:
        tries += 1
        q = gen(rng)
        try:
            rows = con.sql(q).fetchall()
        except Exception:
            continue
        kept.append(q)
        duck_rows.append(rows)

    work = Path("/tmp/fuzz_rel")
    work.mkdir(exist_ok=True)
    (work / "exprs.txt").write_text("\n".join(kept) + "\n")
    print(f"generated {len(kept)} DuckDB-valid queries ({tries} tries)")
    if "--no-run" in sys.argv:
        return

    subprocess.run(
        ["sbt", "-batch",
         f'runMain graft.FuzzEval {work}/exprs.txt {work}/engine.jsonl {SF}'],
        cwd="/root/repo", check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    results = [json.loads(x) for x in
               (work / "engine.jsonl").read_text().splitlines() if x.strip()]
    assert len(results) == len(kept)

    def canon_cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)
        return str(v)

    def canon_rows(rows):
        return (" ; ".join(", ".join(canon_cell(c) for c in r)
                           for r in rows[:200]) + f" #{len(rows)}")

    def cells(s):
        return [c for row in s.rsplit(" #", 1)[0].split(" ; ")
                for c in row.split(", ")]

    def agree(dv, ev):
        if dv == ev:
            return True
        a, b = cells(dv), cells(ev)
        if len(a) != len(b) or dv.rsplit(" #", 1)[-1] != ev.rsplit(" #", 1)[-1]:
            return False
        for x, y in zip(a, b):
            if x == y:
                continue
            try:
                fx, fy = float(x), float(y)
                if fx == fy or abs(fx - fy) <= 1e-9 * max(1.0, abs(fx), abs(fy)):
                    continue
            except ValueError:
                return False
            else:
                continue
        return True

    mismatch = engine_err = 0
    for i, (q, rows) in enumerate(zip(kept, duck_rows)):
        eng = results[i]
        if not eng["ok"]:
            engine_err += 1
            print(f"ENGINE-ERR [{i}] {q}\n  err={eng['err']}")
            continue
        dv = canon_rows(rows)
        if not agree(dv, eng["v"]):
            mismatch += 1
            print(f"MISMATCH [{i}] {q}\n  duck={dv[:220]}\n  eng ={eng['v'][:220]}")
    ok = len(kept) - mismatch - engine_err
    print(f"{ok} agree, {mismatch} mismatch, {engine_err} engine errors of {len(kept)}")
    sys.exit(0 if mismatch == 0 and engine_err == 0 else 1)


if __name__ == "__main__":
    main()

"""Deterministic fixture corpus for the benchmark, written with DuckDB.

The ten tables and their schemas follow FIXTURES.md; the value
distributions follow graft.ScaleGen (salted hashes turned into uniforms,
gaussians and categorical picks), so every declared query and every oracle
text runs unchanged against the output. Row counts scale with `sf`
(sf0.1 = the sf0.1 fixture tier). Everything derives from DuckDB's hash()
of (salt, row id): the same sf gives byte-identical tables.

    python3 perfbench/gendata.py OUT_DIR SF
"""
import os
import sys

import duckdb

SF01_ROWS = {"supplier": 1000, "customer": 15000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000}
# the text and vector tables do not scale linearly in the fixture tiers
DOC_ROWS = {0.001: 500, 0.01: 500, 0.1: 5000}
EMB_ROWS = {0.001: 500, 0.01: 500, 0.1: 2000}

VOCAB = ("the fast key order sort table scan merge join hash group filter "
         "index column row page block cache spill shuffle plan query parse "
         "bind optimize prune push fold cast type null value count sum min "
         "max avg rank window frame range list map struct string int float "
         "date time stamp zone read write commit fetch batch vector engine "
         "disk memory thread task stage job").split()

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def u(salt, col="id"):
    """Deterministic uniform in (0, 1) from a salted hash."""
    return f"((hash({salt}, {col}) % 1000000007)::DOUBLE + 0.5) / 1000000008.0"


def h(salt, col="id"):
    return f"hash({salt}, {col})"


def pick(salt, choices, col="id"):
    arr = "[" + ", ".join(f"'{c}'" for c in choices) + "]"
    return f"{arr}[(hash({salt}, {col}) % {len(choices)})::INTEGER + 1]"


def gauss(salt, *cols):
    c = ", ".join(cols)
    u1 = f"((hash({salt}, {c}) % 1000000007)::DOUBLE + 0.5) / 1000000008.0"
    u2 = f"((hash({salt + 7919}, {c}) % 1000000007)::DOUBLE + 0.5) / 1000000008.0"
    return f"(sqrt(-2.0 * ln({u1})) * cos(2.0 * pi() * {u2}))"


def table_sql(sf):
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in SF01_ROWS.items()}
    n_docs = DOC_ROWS.get(sf, int(5000 * sf / 0.1))
    n_emb = EMB_ROWS.get(sf, int(2000 * sf / 0.1))
    chain = n_docs // 12  # near-dup chain at the head of documents
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    word = lambda seed, pos: (
        f"{vocab}[(hash(60, {seed}, {pos}) % {len(VOCAB)})::INTEGER + 1]")
    return {
        "region": "SELECT id::INTEGER AS r_regionkey, 'REGION_' || id AS r_name "
                  "FROM range(5) t(id)",
        "nation": "SELECT id::INTEGER AS n_nationkey, 'NATION_' || id AS n_name, "
                  "(id % 5)::INTEGER AS n_regionkey FROM range(25) t(id)",
        "supplier": f"""SELECT id AS s_suppkey,
              'Supplier#' || lpad(id::VARCHAR, 9, '0') AS s_name,
              ({h(1)} % 25)::INTEGER AS s_nationkey,
              round({u(2)} * 10998.0 - 999.0, 2) AS s_acctbal
            FROM range({n['supplier']}) t(id)""",
        "customer": f"""SELECT id AS c_custkey,
              'Customer#' || lpad(id::VARCHAR, 9, '0') AS c_name,
              ({h(3)} % 25)::INTEGER AS c_nationkey,
              round({u(4)} * 10998.0 - 999.0, 2) AS c_acctbal,
              {pick(5, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
                AS c_mktsegment
            FROM range({n['customer']}) t(id)""",
        "part": f"""SELECT id AS p_partkey,
              {pick(6, VOCAB)} || ' ' || {pick(7, VOCAB)} AS p_name,
              'Brand#' || ({h(8)} % 5 + 1) || ({h(9)} % 5 + 1) AS p_brand,
              {pick(10, ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO'])}
                || ' ' || {pick(11, ['ANODIZED', 'BURNISHED', 'PLATED', 'POLISHED', 'BRUSHED'])}
                || ' ' || {pick(12, ['TIN', 'NICKEL', 'BRASS', 'STEEL', 'COPPER'])} AS p_type,
              ({h(13)} % 50 + 1)::INTEGER AS p_size,
              round({u(14)} * 1900.0 + 100.0, 2) AS p_retailprice
            FROM range({n['part']}) t(id)""",
        "orders": f"""SELECT id AS o_orderkey,
              ({h(20)} % {n['customer']})::BIGINT AS o_custkey,
              {pick(21, ['F', 'F', 'O', 'O', 'P'])} AS o_orderstatus,
              round({u(22)} * 450000.0 + 1000.0, 2) AS o_totalprice,
              (TIMESTAMP '1995-01-01' + to_days(({h(23)} % 2400)::INTEGER))::TIMESTAMP
                AS o_orderdate,
              {pick(24, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
                AS o_orderpriority
            FROM range({n['orders']}) t(id)""",
        "lineitem": f"""SELECT ({h(30)} % {n['orders']})::BIGINT AS l_orderkey,
              ({h(31)} % {n['part']})::BIGINT AS l_partkey,
              CASE WHEN {u(32)} < 0.05 THEN 1::BIGINT
                   ELSE ({h(33)} % {n['supplier']})::BIGINT END AS l_suppkey,
              ({h(34)} % 7 + 1)::INTEGER AS l_linenumber,
              ({h(35)} % 50 + 1)::DOUBLE AS l_quantity,
              round({u(36)} * 90000.0 + 1000.0, 2) AS l_extendedprice,
              round(({h(37)} % 11)::DOUBLE / 100.0, 2) AS l_discount,
              round(({h(38)} % 9)::DOUBLE / 100.0, 2) AS l_tax,
              {pick(39, ['A', 'N', 'N', 'R'])} AS l_returnflag,
              {pick(40, ['F', 'O'])} AS l_linestatus,
              (TIMESTAMP '1995-01-01' + to_days(({h(41)} % 2500)::INTEGER))::TIMESTAMP
                AS l_shipdate
            FROM range({n['lineitem']}) t(id)""",
        "events": f"""SELECT id AS event_id,
              (TIMESTAMP '2024-01-01'
                + to_microseconds(({u(50)} * 29.0 * 86400.0 * 1e6)::BIGINT))::TIMESTAMP AS ts,
              ({h(51)} % {max(1, n['events'] // 20)})::BIGINT AS user_id,
              {pick(52, ['click', 'click', 'click', 'view', 'view', 'view', 'view',
                         'signup', 'purchase', 'error'])} AS event_type,
              round({u(53)} * 100.0, 3) AS value,
              '{{"k": ' || ({h(54)} % 100) || '}}' AS props
            FROM range({n['events']}) t(id)""",
        # ids = 7 (mod 8) copy the doc 7 below; ids = 6 (mod 8) repeat the
        # doc 6 below plus one word; the head is a sliding-window chain
        # whose consecutive docs share 39 of 40 words
        "documents": f"""WITH s AS (
              SELECT id,
                CASE WHEN id % 8 = 7 THEN id - 7
                     WHEN id % 8 = 6 AND id >= {chain} THEN id - 6
                     ELSE id END AS seed
              FROM range({n_docs}) t(id)),
            b AS (
              SELECT id, seed,
                list_aggregate(list_transform(
                  range(0, ({h(61, 'seed')} % 40 + 30)::INTEGER),
                  j -> {word('seed', 'j')}), 'string_agg', ' ') AS soup,
                list_aggregate(list_transform(range(id, id + 40),
                  k -> {word('-1', 'k')}), 'string_agg', ' ') AS chain
              FROM s),
            t AS (
              SELECT id,
                CASE WHEN id < {chain} THEN chain
                     WHEN id % 8 = 6 THEN soup || ' ' || {word('id', '-2')}
                     ELSE soup END AS text
              FROM b)
            SELECT id AS doc_id, text,
              {pick(62, ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang,
              'src' || ({h(63)} % 20) AS source,
              length(text)::BIGINT AS n_chars
            FROM t""",
        "embeddings": f"""WITH l AS (
              SELECT id, ({h(70)} % 10)::INTEGER AS label FROM range({n_emb}) t(id))
            SELECT id AS vec_id,
              list_transform(range(0, 64), i -> ({gauss(71, 'id', 'i')} * 0.15
                + (((hash(72, label, i) % 1000000007)::DOUBLE + 0.5) / 1000000008.0 - 0.5)
                  * 0.2)::FLOAT) AS embedding,
              label
            FROM l""",
    }


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in table_sql(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))

"""Seeded input generation for the two workloads.

Everything the engine sees is produced here from the workload seed: the
dbt-style project, the parquet source tables and the per-unit deltas.
The same seed gives byte-identical files (self-tested); a different seed
changes the table contents, the delta rows and the order of the queries.
Only numpy's seeded Generator and pyarrow's writer are used, so the
output depends on nothing but the seed and the sizes below.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# warehouse_load: 6,000 orders; each delta updates 2% of
# the order keys and adds 1% new ones.
WH_ORDERS = 6000
WH_CUSTOMERS = 600
WH_UPDATE_SHARE = 0.02
WH_NEW_SHARE = 0.01
WH_DELTAS = 8  # a run builds the cold unit and 3-5 measured units

# query_mix: sf0.01-sized tables in the test-data schema (TESTDATA.md).
QM_SCALE = 0.01

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
EPOCH_1995_US = 788918400 * 1_000_000  # 1995-01-01T00:00:00Z in microseconds
DAY_US = 86400 * 1_000_000


def _write_parquet(table, path):
    # one row group, no pandas metadata: the bytes depend only on data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


# ------------------------------------------------------ source tables

def gen_orders(rng, n_orders, n_customers):
    keys = np.arange(n_orders, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2400, n_orders) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })


def gen_customers(rng, n):
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)),
    })


def gen_lineitem(rng, n_orders, n_parts, n_supp):
    per = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    n = len(okeys)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    return pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n) * DAY_US),
    })


def gen_query_tables(out, seed, scale=QM_SCALE):
    """The ten tables of the test-data schema (TESTDATA.md) at `scale`
    (sf0.01 sizes at the default), one parquet file each."""
    rng = np.random.default_rng([seed, 3])
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(50_000 * scale)
    n_events = int(1_000_000 * scale)
    os.makedirs(out, exist_ok=True)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": gen_customers(rng, n_cust),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "large", "red", "blue", "hot", "old", "new", "shiny"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"], n_part))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1)}),
        "orders": gen_orders(rng, n_orders, n_cust),
        "lineitem": gen_lineitem(rng, n_orders, n_part, n_supp),
    }
    texts, langs = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 110)))))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    t0 = 1704067200 * 1_000_000  # 2024-01-01
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": rng.integers(0, max(150, n_events // 66), n_events).astype(np.int64),
        "event_type": pa.array(rng.choice(["signup", "error", "click", "view", "purchase"], n_events)),
        "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    for name, t in tables.items():
        _write_parquet(t, f"{out}/{name}.parquet")


def draw_queries(seed, strata):
    """The fixed mix of strata.json (as many queries from each stratum)
    in a seeded run order."""
    rng = np.random.default_rng([seed, 4])
    drawn = [q for name in ("job_heavy", "compute_heavy") for q in strata["mix"][name]]
    rng.shuffle(drawn)
    return drawn


# ------------------------------------------------------ warehouse_load

def gen_delta(rng, orders, n_orders, n_customers, unit):
    """One unit's delta: WH_UPDATE_SHARE of the keys with a new status
    and price, plus WH_NEW_SHARE new keys numbered after every earlier
    delta's new keys (deltas are applied to the baseline one at a time,
    so new keys only need to be new relative to the baseline)."""
    n_upd = int(n_orders * WH_UPDATE_SHARE)
    n_new = int(n_orders * WH_NEW_SHARE)
    upd_keys = np.sort(rng.choice(n_orders, n_upd, replace=False))
    base = orders.take(pa.array(upd_keys))
    new = gen_orders(rng, n_new, n_customers)
    new = new.set_column(0, "o_orderkey", pa.array(
        np.arange(n_orders, n_orders + n_new, dtype=np.int64)))
    upd = base.set_column(2, "o_orderstatus", pa.array(rng.choice(["F", "O", "P"], n_upd)))
    upd = upd.set_column(3, "o_totalprice", pa.array(
        np.round(rng.uniform(1000, 500000, n_upd), 2)))
    batch = pa.array(np.full(n_upd + n_new, unit, dtype=np.int32))
    return pa.concat_tables([upd, new]).append_column("batch_id", batch)


SEEDS_CSV = "segment,segment_rank\nAUTOMOBILE,1\nBUILDING,2\nFURNITURE,3\nHOUSEHOLD,4\nMACHINERY,5\n"

WH_MODELS = {
    "stg_orders": """{{ config(materialized='view') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, year(o_orderdate) AS o_year
FROM {{ source('raw', 'orders') }}
""",
    "stg_delta": """{{ config(materialized='view') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, year(o_orderdate) AS o_year, batch_id
FROM {{ source('raw', 'orders_delta') }}
""",
    "orders_current": """{{ config(materialized='view') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, o_year
FROM {{ ref('stg_orders') }}
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {{ ref('stg_delta') }})
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, o_year
FROM {{ ref('stg_delta') }}
""",
    "orders_merge": """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='o_orderkey') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_year
{% if is_incremental() %}FROM {{ ref('stg_delta') }}{% else %}FROM {{ ref('stg_orders') }}{% endif %}
""",
    "orders_merge_part": """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='o_orderkey', partition_by=['o_year']) }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_year
{% if is_incremental() %}FROM {{ ref('stg_delta') }}{% else %}FROM {{ ref('stg_orders') }}{% endif %}
""",
    "orders_delete_insert": """{{ config(materialized='incremental', incremental_strategy='delete+insert', unique_key='o_orderkey') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_year
{% if is_incremental() %}FROM {{ ref('stg_delta') }}{% else %}FROM {{ ref('stg_orders') }}{% endif %}
""",
    "orders_overwrite": """{{ config(materialized='incremental', incremental_strategy='insert_overwrite', partition_by=['o_year']) }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_year
FROM {{ ref('orders_current') }}
{% if is_incremental() %}WHERE o_year IN (SELECT DISTINCT o_year FROM {{ ref('stg_delta') }}){% endif %}
""",
    "order_changes": """{{ config(materialized='incremental', incremental_strategy='append') }}
SELECT o_orderkey, o_orderstatus, o_totalprice, {% if is_incremental() %}batch_id{% else %}0{% endif %} AS batch_id
{% if is_incremental() %}FROM {{ ref('stg_delta') }}{% else %}FROM {{ ref('stg_orders') }}{% endif %}
""",
    "fct_customer_revenue": """{{ config(materialized='table') }}
SELECT c.c_custkey, s.segment_rank, count(*) AS n_orders,
       CAST(sum(o.o_totalprice) AS DECIMAL(18,2)) AS revenue
FROM {{ ref('orders_merge') }} o
JOIN {{ source('raw', 'customer') }} c ON o.o_custkey = c.c_custkey
JOIN {{ ref('segments') }} s ON c.c_mktsegment = s.segment
GROUP BY c.c_custkey, s.segment_rank
""",
}

WH_SNAPSHOT = """{% snapshot orders_snapshot %}
{{ config(strategy='check', unique_key='o_orderkey', check_cols=['o_orderstatus', 'o_totalprice']) }}
SELECT o_orderkey, o_orderstatus, o_totalprice FROM {{ ref('orders_current') }}
{% endsnapshot %}
"""


WH_TESTS = 2  # the data tests _wh_schema_yml declares


def _wh_schema_yml():
    return """models:
  - name: orders_merge
    columns:
      - name: o_orderkey
        data_tests: [unique]
  - name: order_changes
    columns:
      - name: o_orderkey
        data_tests: [not_null]
"""


def gen_warehouse_project(root, data_dir, seed):
    """Write the warehouse_load project, its source tables and
    WH_DELTAS deltas; return the description the JVM side reads. Paths
    are relative to the work directory, where the JVM side runs."""
    rng = np.random.default_rng([seed, 5])
    work = os.path.dirname(root)
    os.makedirs(data_dir, exist_ok=True)
    data = os.path.relpath(data_dir, work)
    orders = gen_orders(rng, WH_ORDERS, WH_CUSTOMERS)
    _write_parquet(orders, f"{data_dir}/orders.parquet")
    _write_parquet(gen_customers(rng, WH_CUSTOMERS), f"{data_dir}/customer.parquet")
    deltas = []
    for u in range(WH_DELTAS):
        _write_parquet(gen_delta(rng, orders, WH_ORDERS, WH_CUSTOMERS, u + 1),
                       f"{data_dir}/delta_{u:03d}.parquet")
        deltas.append(f"{data}/delta_{u:03d}.parquet")
    # the baseline build reads an empty delta
    empty = gen_delta(rng, orders, WH_ORDERS, WH_CUSTOMERS, 0).slice(0, 0)
    _write_parquet(empty, f"{data_dir}/delta_empty.parquet")
    for d in ("models", "snapshots", "seeds"):
        os.makedirs(f"{root}/{d}", exist_ok=True)
    with open(f"{root}/dbt_project.yml", "w") as f:
        f.write("name: bench_wh\n")
    with open(f"{root}/seeds/segments.csv", "w") as f:
        f.write(SEEDS_CSV)
    with open(f"{root}/models/sources.yml", "w") as f:
        f.write("sources:\n  - name: raw\n    tables:\n"
                f"      - name: orders\n        path: {data}/orders.parquet\n"
                f"      - name: customer\n        path: {data}/customer.parquet\n"
                f"      - name: orders_delta\n        path: {data}/orders_delta\n")
    with open(f"{root}/models/schema.yml", "w") as f:
        f.write(_wh_schema_yml())
    for name, sql in WH_MODELS.items():
        with open(f"{root}/models/{name}.sql", "w") as f:
            f.write(sql)
    with open(f"{root}/snapshots/orders_snapshot.sql", "w") as f:
        f.write(WH_SNAPSHOT)
    nodes = [f"model.{m}" for m in WH_MODELS] + ["seed.segments", "snapshot.orders_snapshot"]
    return {"expected_nodes": nodes, "expected_tests": WH_TESTS,
            "deltas": deltas, "live_delta": f"{data}/orders_delta",
            "empty_delta": f"{data}/delta_empty.parquet",
            "orders": f"{data}/orders.parquet", "n_orders": WH_ORDERS}


def generate(workload, seed, work, strata=None):
    """Generate the inputs of `workload` under `work`; return the spec
    dict handed to the JVM side."""
    os.makedirs(work, exist_ok=True)
    if workload == "warehouse_load":
        spec = gen_warehouse_project(f"{work}/project", f"{work}/data", seed)
    elif workload == "query_mix":
        gen_query_tables(f"{work}/data", seed)
        spec = {"queries": draw_queries(seed, strata)}
    else:
        raise ValueError(f"unknown workload {workload}")
    spec.update(workload=workload, seed=seed,
                project=os.path.abspath(f"{work}/project"),
                data=os.path.abspath(f"{work}/data"))
    with open(f"{work}/spec.json", "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    return spec

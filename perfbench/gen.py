"""Seeded Keboola data-dir generator for the component benchmark.

Writes one workload's data directory in the layout a Keboola job sees:

    <out>/config.json            parameters (blocks/codes/scripts) + storage
    <out>/in/tables/<t>/         parquet inputs, one directory per table
    <out>/in/tables/<t>.manifest
    <out>/in/tables/<t>.csv      CSV inputs with a typed manifest
    <out>/out/tables/, out/files/  empty
    <out>/actions/<action>/config.json   the same config with a sync action

All data is synthesised from the seed (TPC-H-shaped tables, numpy PCG64),
so the same seed gives byte-identical files and the program sees only the
generated inputs. Every config pins `threads` and `max_memory_mb`, so runs
never depend on cgroup detection.

    python3 perfbench/gen.py --workload etl_sf0005 --seed 0 --out DIR
"""

import argparse
import csv
import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("etl_sf0005", "dag_wide")
ACTIONS = ("syntax_check", "expected_input_tables",
           "lineage_visualization", "execution_plan_visualization")
THREADS = 4
MAX_MEMORY_MB = 3072

# rows per table at the two scale factors the workloads use
SCALES = {
    "sf0.005": {"orders": 7_500, "customer": 750, "part": 1_000, "supplier": 50},
    "sf0.001": {"orders": 1_500, "customer": 150, "part": 200, "supplier": 10},
}
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
         "black", "blanched", "blue", "blush", "brown", "burlywood",
         "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
         "cornsilk", "cream", "cyan"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
DAY0 = np.datetime64("1992-01-01", "D")
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02
# dag_wide shape: fan-out scripts, mid joins, mid tables chained onto those,
# fan-in output views
DAG_FAN_OUT, DAG_MID, DAG_TIER, DAG_FAN_IN = 6, 4, 2, 4


def _money(cents):
    return cents.astype(np.float64) / 100.0


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def tpch(rng, scale):
    """TPC-H-shaped tables: the columns and types of the sf* parquet test
    data the repository's query paths use, with dates as DATE."""
    s = SCALES[scale]
    n_o, n_c, n_p, n_s = s["orders"], s["customer"], s["part"], s["supplier"]
    t = {}
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_c + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.integers(-99_999, 999_999, n_c))),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_c)),
    })
    retail = 90_000 + (np.arange(1, n_p + 1) % 20_001) + rng.integers(0, 10_000, n_p)
    name = _pick(rng, WORDS, n_p)
    for _ in range(2):
        name = np.char.add(np.char.add(name, " "), _pick(rng, WORDS, n_p))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_p + 1, dtype=np.int64)),
        "p_name": pa.array(name),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(11, 56, n_p).astype(str))),
        "p_type": pa.array(np.char.add(np.char.add(_pick(rng, TYPES, n_p), " "),
                                       _pick(rng, ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"], n_p))),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(_money(retail)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_s + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_s + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng.integers(-99_999, 999_999, n_s))),
    })
    okey = np.arange(1, n_o + 1, dtype=np.int64)
    odate = DAY0 + rng.integers(0, ORDER_DAYS, n_o)
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(1, n_p + 1, n_l)
    qty = rng.integers(1, 51, n_l)
    ext_cents = qty * retail[partkey - 1]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(okey, lines)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_s + 1, n_l).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_l) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(_money(ext_cents)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_l)),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, n_l)),
    })
    per_order = np.bincount(np.repeat(np.arange(n_o), lines), weights=ext_cents, minlength=n_o)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(1, n_c + 1, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_o)),
        "o_totalprice": pa.array(_money(per_order.astype(np.int64))),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_o)),
    })
    return t


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


def _write_parquet(data_dir, name, table):
    d = os.path.join(data_dir, "in", "tables", name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"), compression="snappy")
    ints = {f.name: [{"key": "KBC.datatype.basetype", "value": "INTEGER"}]
            for f in table.schema if pa.types.is_integer(f.type)}
    _write(os.path.join(data_dir, "in", "tables", name + ".manifest"),
           json.dumps({"id": f"in.c-bench.{name}", "column_metadata": ints}, indent=1))
    return {"source": f"in.c-bench.{name}", "destination": name, "file_type": "parquet"}


def _write_csv(data_dir, name, columns, types, rows):
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_ALL, lineterminator="\n")
    w.writerow(columns)
    w.writerows(rows)
    _write(os.path.join(data_dir, "in", "tables", name), buf.getvalue())
    meta = {c: [{"key": "KBC.datatype.basetype", "value": t}] for c, t in zip(columns, types)}
    _write(os.path.join(data_dir, "in", "tables", name + ".manifest"),
           json.dumps({"id": f"in.c-bench.{name}", "columns": columns,
                       "column_metadata": meta, "delimiter": ",", "enclosure": "\""},
                      indent=1))
    return {"source": f"in.c-bench.{name}", "destination": name}


def _block(name, scripts):
    """One block, one code per (code name, sql) pair."""
    return {"name": name, "codes": [{"name": c, "script": [sql]} for c, sql in scripts]}


# -- etl_sf0005 -------------------------------------------------------------

def etl_sf0005(rng, data_dir):
    """Data-heavy: sf0.005 parquet inputs plus a typed CSV; a CTAS join, a
    DML chain (DELETE, then MERGE ... UPDATE) on it, an aggregate, PIVOT, a
    window, a wide output and small outputs (all four outputs are views,
    whose work runs at export)."""
    inputs = [_write_parquet(data_dir, n, tb) for n, tb in sorted(tpch(rng, "sf0.005").items())
              if n != "supplier"]
    rows = []
    for nation in NATIONS:
        for seg in SEGMENTS:
            for yr in range(1992, 1999):
                rows.append([nation, seg, yr, f"{rng.integers(100_000, 9_000_000) / 100:.2f}",
                             f"plan \"{seg.lower()}\", {nation.title()}"])
    inputs.append(_write_csv(
        data_dir, "targets.csv",
        ["nation", "segment", "target_year", "target_amount", "note"],
        ["STRING", "STRING", "INTEGER", "NUMERIC", "STRING"], rows))
    cutoff = str(np.datetime64("1998-12-01") - int(rng.integers(30, 120)))
    day = str(DAY0 + int(rng.integers(0, ORDER_DAYS - 200)))
    m = [int(x) for x in rng.integers(5, 13, 2)]
    r = [int(rng.integers(0, k)) for k in m]
    seg = SEGMENTS[int(rng.integers(0, 5))]
    top_k = int(rng.integers(8, 16))
    stage = [
        ("li_oc", "CREATE TABLE li_oc AS SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
                  "l_quantity::INTEGER AS qty, CAST(l_extendedprice AS DECIMAL(15,2)) AS price, "
                  "CAST(l_discount AS DECIMAL(4,2)) AS disc, CAST(l_tax AS DECIMAL(4,2)) AS tax, "
                  "l_returnflag, l_shipdate, o_orderdate, o_orderpriority, c_mktsegment, c_nationkey "
                  "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                  "JOIN customer ON o_custkey = c_custkey "
                  f"WHERE l_shipdate <= DATE '{cutoff}'"),
        ("flag_stats", "CREATE VIEW flag_stats AS SELECT l_returnflag, COUNT(*) AS n, "
                       "SUM(price) AS total, SUM(tax) AS tax FROM li_oc GROUP BY ALL "
                       "ORDER BY l_returnflag"),
    ]
    # each DML rewrites li_oc and re-binds the flag_stats view over it
    corrections = [
        ("drop_returns", f"DELETE FROM li_oc WHERE l_orderkey % {m[0]} = {r[0]} "
                         "AND l_returnflag = 'R'"),
        ("promo", "MERGE INTO li_oc USING (SELECT l_orderkey AS k, l_linenumber AS ln FROM li_oc "
                  f"WHERE l_orderkey % {m[1] * 2} = {r[1]} AND c_mktsegment = '{seg}' "
                  f"AND l_shipdate BETWEEN DATE '{day}' AND DATE '{day}' + INTERVAL 120 DAY) s "
                  "ON li_oc.l_orderkey = s.k AND li_oc.l_linenumber = s.ln "
                  "WHEN MATCHED THEN UPDATE SET disc = disc / 2, tax = 0"),
    ]
    transform = [
        ("rev_nation", "CREATE TABLE rev_nation AS SELECT n.n_name, year(o_orderdate) AS yr, "
                       "c_mktsegment, SUM(price * (1 - disc)) AS revenue, COUNT(*) AS line_count "
                       "FROM li_oc JOIN nation n ON c_nationkey = n.n_nationkey GROUP BY ALL"),
        ("seg_pivot", "CREATE VIEW seg_pivot AS PIVOT (SELECT yr, c_mktsegment, revenue "
                      "FROM rev_nation) ON c_mktsegment USING sum(revenue) GROUP BY yr"),
    ]
    report = [
        ("li_wide", "CREATE VIEW li_wide AS SELECT l_orderkey, l_linenumber, l_partkey, qty, "
                    "price, disc, tax, l_returnflag, l_shipdate, o_orderdate, o_orderpriority, "
                    "c_mktsegment, c_nationkey, p.p_brand, p.p_type "
                    "FROM li_oc JOIN part p ON l_partkey = p.p_partkey "
                    "ORDER BY l_orderkey, l_linenumber"),
        ("nation_summary", "CREATE VIEW nation_summary AS SELECT r.n_name, r.yr, r.c_mktsegment, "
                           "r.revenue, r.line_count, t.target_amount, "
                           "r.revenue - t.target_amount AS gap FROM rev_nation r "
                           "LEFT JOIN (SELECT nation, segment, target_year, target_amount "
                           "FROM 'targets.csv') t ON r.n_name = t.nation "
                           "AND r.c_mktsegment = t.segment AND r.yr = t.target_year "
                           "QUALIFY rank() OVER (PARTITION BY r.yr, r.c_mktsegment "
                           f"ORDER BY r.revenue DESC, r.n_name) <= {top_k} "
                           "ORDER BY n_name, yr, c_mktsegment"),
    ]
    blocks = [_block("stage", stage), _block("corrections", corrections),
              _block("transform", transform), _block("report", report)]
    outputs = ["li_wide", "nation_summary", "seg_pivot", "flag_stats"]
    return blocks, inputs, outputs


# -- dag_wide ---------------------------------------------------------------

def _fan_out(rng, i):
    """One small fan-out script over the sf0.001 inputs; returns (sql, shape)."""
    m = int(rng.integers(2, 6))
    r = int(rng.integers(0, m))
    k = int(rng.integers(2, 9))
    shapes = [
        f"SELECT o_custkey AS ck, o_orderkey::VARCHAR AS ok_txt, o_totalprice::DECIMAL(15,2) AS amt "
        f"FROM orders WHERE o_orderkey % {m} = {r}",
        f"SELECT l_orderkey AS ok, l_partkey AS pk, l_quantity::INTEGER AS qty FROM lineitem "
        f"WHERE l_linenumber <= {k} "
        f"QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC) <= 2",
        f"SELECT * EXCLUDE (c_name, c_acctbal), c_acctbal::DECIMAL(15,2) AS bal FROM customer "
        f"WHERE c_custkey % {m} <> {r}",
        f"SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS n, SUM(c_acctbal::DECIMAL(15,2)) AS bal "
        f"FROM customer WHERE c_custkey % {m} = {r} GROUP BY ALL",
        f"SELECT p_partkey AS pk, list_sum(list_transform([p_size, p_partkey % {k}, {k}], x -> x * 2)) AS score, "
        f"list_sort(list_value(p_size, p_partkey % {k}, {m})) AS trio FROM part",
        f"SELECT ev_id, payload ->> 'kind' AS kind, (payload ->> 'amount')::INTEGER AS amount "
        f"FROM 'events.csv' WHERE ev_id % {m} = {r}",
    ]
    shape = i % len(shapes)
    return f"CREATE TABLE f_{i:03d} AS {shapes[shape]}", shape


def dag_wide(rng, data_dir):
    """Statement-heavy: many small scripts over sf0.001 inputs in three
    blocks that fan out, join pairwise and fan back in; script order is
    shuffled by the seed."""
    inputs = [_write_parquet(data_dir, n, tb) for n, tb in sorted(tpch(rng, "sf0.001").items())
              if n != "supplier"]
    kinds = ["click", "view", "buy", "refund"]
    ev_rows = [[i, json.dumps({"kind": kinds[int(rng.integers(0, 4))],
                               "amount": int(rng.integers(1, 500))})] for i in range(1, 2001)]
    inputs.append(_write_csv(data_dir, "events.csv", ["ev_id", "payload"],
                             ["INTEGER", "STRING"], ev_rows))
    fan = [_fan_out(rng, i) for i in range(DAG_FAN_OUT)]
    by_shape = {}
    for i, (_, shape) in enumerate(fan):
        by_shape.setdefault(shape, []).append(f"f_{i:03d}")
    out_scripts = [(f"f_{i:03d}", sql) for i, (sql, _) in enumerate(fan)]

    mid = []
    for j in range(DAG_MID):
        kind = j % 4
        if kind == 0:    # orders slice joined to a customer slice
            a, b = rng.choice(by_shape[0]), rng.choice(by_shape[2])
            sql = (f"SELECT b.c_mktsegment AS seg, COUNT(*) AS n, SUM(a.amt) AS amt "
                   f"FROM {a} a JOIN {b} b ON a.ck = b.c_custkey GROUP BY ALL")
        elif kind == 1:  # lineitem slice joined to part scores
            a, b = rng.choice(by_shape[1]), rng.choice(by_shape[4])
            sql = (f"SELECT a.ok % 10 AS bucket, SUM(a.qty * b.score) AS weighted, COUNT(*) AS n "
                   f"FROM {a} a JOIN {b} b ON a.pk = b.pk GROUP BY ALL")
        elif kind == 2:  # a nation aggregate against a customer slice
            a, b = rng.choice(by_shape[3]), rng.choice(by_shape[2])
            sql = (f"SELECT a.nk, a.seg, a.n + COUNT(*) AS n, a.bal - SUM(b.bal) AS diff "
                   f"FROM {a} a JOIN {b} b ON a.nk = b.c_nationkey AND a.seg = b.c_mktsegment "
                   f"GROUP BY a.nk, a.seg, a.n, a.bal")
        else:            # events slice aggregate
            a = rng.choice(by_shape[5])
            sql = (f"SELECT kind, COUNT(*) AS n, SUM(amount) AS amount, MAX(ev_id)::VARCHAR AS last_id "
                   f"FROM {a} GROUP BY ALL")
        mid.append((f"m_{j:03d}", f"CREATE TABLE m_{j:03d} AS {sql}", kind))
    # a second tier inside the block: each chains onto an earlier mid table
    for j in range(DAG_MID, DAG_MID + DAG_TIER):
        src_j = int(rng.integers(0, DAG_MID))
        mid.append((f"m_{j:03d}", f"CREATE TABLE m_{j:03d} AS SELECT *, {j} AS tier "
                                  f"FROM m_{src_j:03d}", mid[src_j][2]))

    groups = {}
    for name, _, kind in mid:
        groups.setdefault(kind, []).append(name)
    cols = {0: "seg, n, amt", 1: "bucket, weighted, n", 2: "nk, seg, n, diff", 3: "kind, n, amount"}
    keys = {0: "seg", 1: "bucket", 2: "nk, seg", 3: "kind"}
    aggs = {0: "SUM(n) AS n, SUM(amt) AS amt", 1: "SUM(n) AS n, SUM(weighted) AS weighted",
            2: "SUM(n) AS n, SUM(diff) AS diff", 3: "SUM(n) AS n, SUM(amount) AS amount"}
    fan_in = []
    for k in range(DAG_FAN_IN):
        kind = k % 4
        picks = sorted(rng.choice(groups[kind], min(2, len(groups[kind])), replace=False))
        union = " UNION ALL ".join(f"SELECT {cols[kind]} FROM {p}" for p in picks)
        fan_in.append((f"out_{k:02d}",
                       f"CREATE VIEW out_{k:02d} AS SELECT {keys[kind]}, {aggs[kind]} "
                       f"FROM ({union}) GROUP BY ALL ORDER BY ALL"))
    order = [rng.permutation(len(x)) for x in (out_scripts, mid, fan_in)]
    blocks = [
        _block("fan_out", [out_scripts[i] for i in order[0]]),
        _block("mid", [mid[i][:2] for i in order[1]]),
        _block("fan_in", [fan_in[i] for i in order[2]]),
    ]
    return blocks, inputs, [f"out_{k:02d}" for k in range(DAG_FAN_IN)]


BUILDERS = {"etl_sf0005": etl_sf0005, "dag_wide": dag_wide}


def config_json(blocks, inputs, outputs, action=None):
    cfg = {
        "parameters": {"blocks": blocks, "threads": THREADS, "max_memory_mb": MAX_MEMORY_MB},
        "storage": {
            "input": {"tables": inputs},
            "output": {"tables": [{"source": o, "destination": f"out.c-bench.{o}"}
                                  for o in outputs]},
        },
    }
    if action:
        cfg["action"] = action
    return json.dumps(cfg, indent=1, sort_keys=True) + "\n"


def generate(workload, seed, out):
    """Write `workload`'s data dir for `seed` to `out` (replaced if present).
    Returns the list of output table names."""
    if workload not in BUILDERS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    if os.path.exists(out):
        shutil.rmtree(out)
    for d in ("in/tables", "in/files", "out/tables", "out/files"):
        os.makedirs(os.path.join(out, d))
    rng = np.random.Generator(np.random.PCG64([seed, WORKLOADS.index(workload)]))
    blocks, inputs, outputs = BUILDERS[workload](rng, out)
    _write(os.path.join(out, "config.json"), config_json(blocks, inputs, outputs))
    for a in ACTIONS:
        _write(os.path.join(out, "actions", a, "config.json"),
               config_json(blocks, inputs, outputs, action=a))
    return outputs


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

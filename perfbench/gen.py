"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files, a different seed gives different ones. Outputs
are cached under ``<cache_root>/<workload>/seed-<n>/`` and written
atomically (built in a sibling temp directory, then renamed), so a run
that is interrupted never leaves a half-written cache behind.

Values that are summed or averaged are dyadic (multiples of 1/32 or
1/4) and small, so every sum is exact in float64 whatever the order of
summation: Spark and DuckDB agree bit-for-bit, and the output checks
can compare hashes instead of tolerances.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sizes, fixed in the benchmark so both commits of a comparison see
#: the same work per operation
STAR_SF = 0.02           # star schema scale (lineitem ~ 120k rows)
N_CONFIGS = 120          # config_jobs: configs per seed
#: config_jobs: (dialect, written through save_data?, shape) in stream
#: order; dialects A/B/B' at 5/4/3 of 12, a quarter of the jobs saved.
#: The shape fixes each slot's structure, the seed its content.
DIALECT_CYCLE = [
    ("A", True, {"table": "lineitem", "n_iter": 1, "levels": 2}),
    ("B", False, {"tree": 0, "depth": 2}),
    ("Bp", False, {"grain": 0, "n_children": 1}),
    ("A", False, {"table": "orders", "n_iter": 1, "levels": 1}),
    ("B", True, {"tree": 1, "depth": 1}),
    ("A", False, {"table": "lineitem", "n_iter": 2, "levels": 1}),
    ("Bp", False, {"grain": 1, "n_children": 2}),
    ("B", False, {"tree": 2, "depth": 2}),
    ("A", False, {"table": "lineitem", "n_iter": 1, "levels": "high"}),
    ("Bp", True, {"grain": 2, "n_children": 1}),
    ("B", False, {"tree": 0, "depth": 3}),
    ("A", False, {"table": "orders", "n_iter": 2, "levels": 2}),
]
CURATION_SHARDS = 8      # curation_batch: shards per corpus
SHARD_BASE_DOCS = 1000   # curation_batch: clean base docs per shard
WARMUP_BASE_DOCS = 200   # curation_batch: the warm-up shard
EMB_N = 2000             # search_batches: corpus vectors
EMB_DIM = 32
EMB_CLUSTERS = 64
EMB_SPREAD = 1.0         # per-dimension noise around a cluster centre
QUERY_BATCHES = 16       # search_batches: batches per seed
QUERIES_PER_BATCH = 20
BM25_PER_BATCH = 1       # bm25 queries per batch
SEARCH_DOCS = 1000       # search_batches: documents table rows
EVENT_FILES = 12         # event_stream: files replayed per stream
EVENTS_PER_FILE = 4000
EVENT_USERS = 2000

_PARQUET_KW = {"compression": "snappy", "use_dictionary": True,
               "write_statistics": True}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_PARQUET_KW)


def _write_parts(table: pa.Table, path: str, parts: int = 4) -> None:
    """``table`` as a directory of ``parts`` files of contiguous rows,
    the multi-file layout a data lake hands a reader (and the unit
    Spark splits a scan by)."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        _write(table.slice(p * step, step), os.path.join(path, f"part-{p}.parquet"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per (seed, purpose): adding a generator
    # never shifts the draws of another
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def cached(cache_root: str, workload: str, seed: int, build) -> str:
    """Directory holding ``build(seed, dir)``'s output, built once."""
    final = os.path.join(cache_root, workload, f"seed-{seed}")
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".seed-{seed}-", dir=os.path.dirname(final))
    try:
        build(seed, tmp)
        with open(os.path.join(tmp, "DONE"), "w") as f:
            f.write("ok\n")
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# --------------------------------------------------------------------------
# Words (shared by the corpus and the search documents)
# --------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa",
              "ro", "li", "ma", "ne", "to", "ga", "bu", "si", "fe", "zo"]
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def vocabulary(size: int = 3000) -> list[str]:
    """Deterministic pseudo-words (2-4 syllables), seed-independent."""
    rng = np.random.default_rng(7)
    words: list[str] = []
    seen = set(_STOP)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _sentence_doc(rng: np.random.Generator, vocab: list[str], n_tok: int) -> str:
    """Lowercase prose-like text: Zipf-ish content words with ~25%
    stopwords, so quality and language gates accept it."""
    # offset the Zipf rank by a uniform draw so docs share few shingles
    word = (np.minimum(rng.zipf(1.2, n_tok), len(vocab)) - 1
            + rng.integers(0, len(vocab), n_tok)) % len(vocab)
    stop = rng.integers(0, len(_STOP), n_tok)
    is_stop = rng.random(n_tok) < 0.25
    return " ".join(_STOP[s] if st else vocab[w]
                    for w, s, st in zip(word.tolist(), stop.tolist(), is_stop.tolist()))


# --------------------------------------------------------------------------
# config_jobs: star schema + configs with DuckDB twins
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _star_schema(seed: int, out: str) -> dict[str, int]:
    rng = _rng(seed, "star")
    n_cust = int(150_000 * STAR_SF)
    n_supp = int(10_000 * STAR_SF)
    n_part = int(200_000 * STAR_SF)
    n_ord = int(1_500_000 * STAR_SF)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-4000, 40000, n_cust) / 4.0,
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.integers(-4000, 40000, n_supp) / 4.0,
    })
    retail = rng.integers(3600, 8000, n_part) / 4.0
    tables["part"] = pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": [f"TYPE{t:02d}" for t in rng.integers(0, 30, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    base = np.datetime64("1992-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")
    o_date = base + rng.integers(0, 2400, n_ord) * day
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(4000, 2_000_000, n_ord) / 4.0,
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.cumsum(lines) - lines
    l_num = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": qty * retail[l_part - 1],
        "l_discount": rng.integers(0, 4, n_li) / 32.0,
        "l_tax": rng.integers(0, 3, n_li) / 32.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(o_date, lines)
                               + rng.integers(1, 120, n_li) * day,
                               pa.timestamp("us")),
    })
    for name, t in tables.items():
        _write_parts(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _q(v) -> str:
    """SQL literal for a config value (strings single-quoted)."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


_A_SOURCES = {
    # table -> (group-key candidates, numeric measure candidates, filters)
    "lineitem": (
        ["l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        [
            ("l_quantity", ">", [5.0, 10.0, 25.0, 40.0]),
            ("l_quantity", "<=", [20.0, 30.0, 45.0]),
            ("l_discount", ">=", [0.03125, 0.0625]),
            ("l_returnflag", "isin", [["A", "R"], ["N"], ["A", "N"]]),
            ("l_linestatus", "==", ["F", "O"]),
            ("l_linenumber", "not_isin", [[1], [2, 3], [7]]),
            ("l_tax", "!=", [0.0, 0.03125]),
        ],
    ),
    "orders": (
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
        ["o_totalprice"],
        [
            ("o_totalprice", ">", [10_000.0, 100_000.0, 250_000.0]),
            ("o_orderstatus", "isin", [["F", "O"], ["P"]]),
            ("o_orderpriority", "!=", ["5-LOW", "1-URGENT"]),
            ("o_totalprice", "<", [300_000.0, 400_000.0]),
        ],
    ),
}
_DERIVE = {
    "lineitem": [("rev", "l_extendedprice * (1 - l_discount)"),
                 ("charge", "l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
                 ("qty2", "l_quantity * 2")],
    "orders": [("price_k", "o_totalprice * 0.25")],
}
_AGG_FUNCS = ["sum", "avg", "min", "max", "count"]
_SQL_AGG = {"sum": "sum({})", "avg": "avg({})", "min": "min({})",
            "max": "max({})", "count": "count({})"}


def _filter_sql(col: str, op: str, val) -> str:
    if op == "==":
        return f"{col} IS NOT DISTINCT FROM {_q(val)}"
    if op == "!=":
        return f"{col} IS DISTINCT FROM {_q(val)}"
    if op in ("isin", "not_isin"):
        neg = "NOT " if op == "not_isin" else ""
        return f"{col} {neg}IN ({', '.join(_q(v) for v in val)})"
    return f"{col} {op} {_q(val)}"


def _agg_sql(col: str, func: str, name: str) -> str:
    return f'{_SQL_AGG[func].format(col)} AS "{name}"'


def _pick(rng, seq, k=1):
    idx = rng.choice(len(seq), size=k, replace=False)
    return [seq[int(i)] for i in sorted(idx)]


def _dialect_a(rng, path_of, table: str, n_iter: int, levels) -> tuple[dict, dict, list[str]]:
    """One dialect-A pipeline config over ``table``, its per-iteration
    SQL twins and the tables it reads. ``levels`` is 1, 2 (a cascade
    over two keys) or "high" (one high-cardinality key)."""
    keys, measures, filters = _A_SOURCES[table]
    iterations, twins = [], {}
    for it in range(n_iter):
        derive = {}
        name, expr = _pick(rng, _DERIVE[table])[0]
        derive[name] = expr
        cols = measures + list(derive)
        flt = []
        for c, op, vals in _pick(rng, filters, 1):
            flt.append({"filter_col": c, "filter_op": op,
                        "filter_value": vals[int(rng.integers(len(vals)))]})
        group = [keys[-1]] if levels == "high" else _pick(rng, keys[:-1], levels)
        aggs = []
        for j, c in enumerate(_pick(rng, cols, 2)):
            f = _AGG_FUNCS[int(rng.integers(len(_AGG_FUNCS)))]
            aggs.append({"agg_col": c, "agg_func": f, "new_name": f"{f}_{c}_{j}"})
        level1 = {"group_by": group, "aggregations": aggs}
        if derive:
            level1["derive"] = derive
        if flt:
            level1["filters"] = flt
        src = f"read_parquet('{path_of(table)}/*.parquet')"
        if derive:
            src = (f"(SELECT *, {', '.join(f'{e} AS {n}' for n, e in derive.items())}"
                   f" FROM {src})")
        where = " AND ".join(_filter_sql(f["filter_col"], f["filter_op"], f["filter_value"])
                             for f in flt) or "TRUE"
        sql = (f"SELECT {', '.join(group)}, "
               f"{', '.join(_agg_sql(a['agg_col'], a['agg_func'], a['new_name']) for a in aggs)}"
               f" FROM {src} WHERE {where} GROUP BY {', '.join(group)}")
        it_cfg = {"id": f"it{it}", "level_1": level1}
        if levels == 2:
            g2 = [group[0]]
            a2 = [{"agg_col": a["new_name"], "agg_func": f2, "new_name": f"{f2}_{a['new_name']}"}
                  for a, f2 in zip(aggs, ["sum", "max", "min"])]
            it_cfg["level_2"] = {"group_by": g2, "aggregations": a2}
            sql = (f"SELECT {g2[0]}, "
                   f"{', '.join(_agg_sql(a['agg_col'], a['agg_func'], a['new_name']) for a in a2)}"
                   f" FROM ({sql}) GROUP BY {g2[0]}")
        iterations.append(it_cfg)
        twins[f"it{it}"] = sql
    return {"iterations": iterations}, twins, [table]


#: dialect-B join trees: root table, grain key, dimension chain
#: (child table, its key, the parent-side key name, kept columns)
_TREES = [
    ("lineitem", "l_suppkey", [("supplier", "s_suppkey", "l_suppkey", ["s_nationkey", "s_acctbal"]),
                               ("nation", "n_nationkey", "s_nationkey", ["n_name", "n_regionkey"]),
                               ("region", "r_regionkey", "n_regionkey", ["r_name"])]),
    ("lineitem", "l_partkey", [("part", "p_partkey", "l_partkey", ["p_brand", "p_size"])]),
    ("orders", "o_custkey", [("customer", "c_custkey", "o_custkey", ["c_mktsegment", "c_nationkey"]),
                             ("nation", "n_nationkey", "c_nationkey", ["n_name"])]),
]
_TREE_FILTERS = {
    "lineitem": ["l_quantity > 10", "l_returnflag IN ('A', 'R')", "l_discount >= 0.0625",
                 "l_linestatus = 'O'", "l_tax < 0.0625"],
    "orders": ["o_totalprice > 50000", "o_orderstatus <> 'P'",
               "o_orderpriority IN ('1-URGENT', '2-HIGH')"],
    "supplier": ["s_acctbal > 0"], "customer": ["c_acctbal > 1000"],
    "part": ["p_size > 10"], "nation": [], "region": [],
}


def _tree_child_sql(node: dict) -> str:
    """DuckDB twin of one dialect-B child: derive, filter, project, then
    join its own child on the declared key."""
    key, parent_key = next(iter(node["derive"].items()))
    where = " AND ".join(node["filters"]) or "TRUE"
    sql = (f"SELECT {', '.join(node['keep_columns'])} FROM "
           f"(SELECT *, {parent_key} AS {key} FROM read_parquet('{node['data_path']}/*.parquet')) "
           f"WHERE {where}")
    for child in node.get("children", []):
        sql = _join_sql(sql, child)
    return sql


def _join_sql(left: str, child: dict) -> str:
    join = "LEFT JOIN" if child["join"]["how"] == "left" else "JOIN"
    return (f"SELECT * FROM ({left}) {join} ({_tree_child_sql(child)}) "
            f"USING ({child['join']['on'][0]})")


def _dialect_b(rng, path_of, tree: int, depth: int) -> tuple[dict, dict, list[str]]:
    """A dialect-B join tree: tree ``tree`` of :data:`_TREES`, its first
    ``depth`` dimensions."""
    root_t, grain, chain = _TREES[tree]
    chain = chain[:depth]
    derive = {}
    if root_t == "lineitem":
        derive["rev"] = "l_extendedprice * (1 - l_discount)"
    cols = _A_SOURCES[root_t][1] + list(derive)
    aggs: dict[str, list[str]] = {}
    for c in _pick(rng, cols, min(2, len(cols))):
        aggs[c] = _pick(rng, _AGG_FUNCS, 1)
    flt = _pick(rng, _TREE_FILTERS[root_t], 1)
    root = {"unique_id": "root", "filters": flt,
            "aggregation": {"group_by": [grain], "aggregations": aggs}}
    if derive:
        root["derive"] = derive
    node = root
    for i, (t, key, parent_key, keep) in enumerate(chain):
        child = {"unique_id": f"c{i}", "data_path": path_of(t), "source": "parquet",
                 "derive": {parent_key: key},
                 "filters": _pick(rng, _TREE_FILTERS[t],
                                  min(1, len(_TREE_FILTERS[t]))),
                 "keep_columns": [parent_key] + keep,
                 "join": {"on": [parent_key], "how": "left" if rng.random() < 0.3 else "inner"},
                 "broadcast": i > 0}
        node["children"] = [child]
        node = child
    src = f"read_parquet('{path_of(root_t)}/*.parquet')"
    if derive:
        src = f"(SELECT *, {', '.join(f'{e} AS {n}' for n, e in derive.items())} FROM {src})"
    agg_cols = ", ".join(_agg_sql(c, f, f"{f}_{c}") for c, fs in aggs.items() for f in fs)
    sql = (f"SELECT {grain}, {agg_cols} FROM {src} WHERE {' AND '.join(flt) or 'TRUE'} "
           f"GROUP BY {grain}")
    sql = _join_sql(sql, root["children"][0])
    return root, {"root": sql}, [root_t] + [t for t, *_ in chain]


_NESTED_GRAINS = [["l_returnflag", "l_linestatus"], ["l_linenumber"],
                  ["l_returnflag", "l_linenumber"], ["l_suppkey"]]
_NESTED_WHERE = ["l_discount > 0.03125", "l_quantity >= 25", "l_returnflag = 'R'",
                 "l_tax = 0"]


def _dialect_b_prime(rng, path_of, grain: int, n_children: int) -> tuple[dict, dict, list[str]]:
    """A dialect-B' nested aggregate at grain ``grain`` of
    :data:`_NESTED_GRAINS` with ``n_children`` linked children."""
    grain = _NESTED_GRAINS[grain]
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def aggregates(prefix: str, k: int):
        agg, rename, sql = {}, {}, []
        for c in _pick(rng, measures, k):
            f = ["sum", "max", "min", "avg", "count"][int(rng.integers(5))]
            name = f"{prefix}{f}_{c}"
            if rng.random() < 0.4:
                w = _NESTED_WHERE[int(rng.integers(len(_NESTED_WHERE)))]
                agg[c] = {"function": f, "filter": w}
                expr = _SQL_AGG[f].format(f"CASE WHEN {w} THEN {c} END")
            else:
                agg[c] = f
                expr = _SQL_AGG[f].format(c)
            rename[c] = name
            sql.append((name, expr))
        return agg, rename, sql

    flt = _pick(rng, _TREE_FILTERS["lineitem"], 1)
    agg, rename, root_aggs = aggregates("", 2)
    cfg = {"id": "r", "group_by": grain, "aggregate": agg, "rename": rename, "filter": flt}
    base = f"(SELECT * FROM read_parquet('{path_of('lineitem')}/*.parquet') WHERE {' AND '.join(flt) or 'TRUE'})"
    sql = (f"SELECT {', '.join(grain)}, {', '.join(f'{e} AS {chr(34)}{n}{chr(34)}' for n, e in root_aggs)}"
           f" FROM {base} GROUP BY {', '.join(grain)}")
    children = []
    for i in range(n_children):
        link = _pick(rng, grain, 1)
        cagg, cren, c_sql = aggregates(f"x{i}_", 1)
        child = {"id": f"c{i}", "link": link, "aggregate": cagg, "rename": cren}
        cflt = _pick(rng, _NESTED_WHERE, 1)
        if cflt:
            child["filter"] = cflt
        children.append(child)
        cbase = f"(SELECT * FROM {base} WHERE {' AND '.join(cflt) or 'TRUE'})"
        csql = (f"SELECT {link[0]}, {', '.join(f'{e} AS {chr(34)}r_{n}{chr(34)}' for n, e in c_sql)}"
                f" FROM {cbase} GROUP BY {link[0]}")
        sql = f"SELECT * FROM ({sql}) LEFT JOIN ({csql}) USING ({link[0]})"
    cfg["children"] = children
    return cfg, {"root": sql}, ["lineitem"]


def build_config_jobs(seed: int, out: str) -> None:
    """Star schema at :data:`STAR_SF` plus :data:`N_CONFIGS` configs,
    each with the DuckDB twin of every output it produces."""
    data = os.path.join(out, "data")
    os.makedirs(data)
    rows = _star_schema(seed, data)
    rng = _rng(seed, "configs")
    # configs name their inputs relative to the data dir; the worker and
    # the oracle substitute the absolute location at run time
    path_of = lambda t: f"{{DATA}}/{t}.parquet"  # noqa: E731
    jobs = []
    makers = {"A": _dialect_a, "B": _dialect_b, "Bp": _dialect_b_prime}
    for i in range(N_CONFIGS):
        # a fixed rotation, so any window of the stream holds the same
        # mix of dialects and sinks; the seed picks each config's content
        dialect, save, shape = DIALECT_CYCLE[i % len(DIALECT_CYCLE)]
        cfg, twins, tables = makers[dialect](rng, path_of, **shape)
        jobs.append({
            "job_id": i, "dialect": dialect, "config": cfg, "twins": twins,
            "root_table": tables[0],
            "rows_in": int(sum(rows[t] for t in tables)),
            "save": save,
        })
    with open(os.path.join(out, "jobs.json"), "w") as f:
        json.dump({"tables": rows, "jobs": jobs}, f, indent=1, sort_keys=True)


# --------------------------------------------------------------------------
# curation_batch: corpus shards with injected duplicates and junk
# --------------------------------------------------------------------------

def build_curation(seed: int, out: str) -> None:
    """:data:`CURATION_SHARDS` shards of documents, plus a small one for
    the warm-up. Each shard holds
    clean base docs plus injected exact duplicates (case/whitespace
    variants), near-duplicates (one token replaced) and junk (markup
    spam and repeated-character runs), with the ground truth for each."""
    rng = _rng(seed, "curation")
    vocab = vocabulary()
    truth = []
    next_id = 0
    # the last shard is a small one for the warm-up
    for s, n_base in enumerate([SHARD_BASE_DOCS] * CURATION_SHARDS + [WARMUP_BASE_DOCS]):
        docs: list[tuple[str, str]] = []  # (kind, text)
        # >= 80 tokens: one replaced token keeps 5-shingle Jaccard
        # >= 71/81 = 0.877, well above the 0.8 near-dup threshold
        base = [_sentence_doc(rng, vocab, int(rng.integers(80, 140)))
                for _ in range(n_base)]
        docs += [("base", t) for t in base]
        n_exact = n_base // 10
        n_near = n_base // 10
        picks = rng.choice(n_base, size=n_exact + n_near, replace=False)
        groups: list[tuple[str, int, int]] = []  # (kind, base index, copy index)
        for j, b in enumerate(picks):
            text = base[int(b)]
            if j < n_exact:
                toks = text.split(" ")
                toks[0] = toks[0].upper()
                variant = "  ".join(toks[:5]) + " " + " ".join(toks[5:]) + " "
                groups.append(("exact", int(b), len(docs)))
                docs.append(("exact", variant))
            else:
                toks = text.split(" ")
                pos = int(rng.integers(len(toks)))
                toks[pos] = "zq" + vocab[int(rng.integers(len(vocab)))]
                groups.append(("near", int(b), len(docs)))
                docs.append(("near", " ".join(toks)))
        for _ in range(n_base // 20):
            docs.append(("junk", "!!!! ???? .... ;;;; " * int(rng.integers(1, 3))))
        for _ in range(n_base // 20):
            ch = "xyz"[int(rng.integers(3))]
            docs.append(("junk", " ".join([ch * int(rng.integers(3, 7))] * int(rng.integers(12, 30)))))
        # ids are a seeded permutation, so the kept copy of a group is
        # not always the original
        ids = next_id + rng.permutation(len(docs)).astype(np.int64)
        next_id += len(docs)
        _write_parts(pa.table({
            "doc_id": ids,
            "text": [t for _, t in docs],
            "source": [f"src{int(x)}" for x in rng.integers(0, 8, len(docs))],
        }), os.path.join(out, f"shard-{s:02d}.parquet"))
        truth.append({
            "rows": len(docs),
            "base": [int(ids[i]) for i in range(n_base)],
            "junk": [int(ids[i]) for i, (k, _) in enumerate(docs) if k == "junk"],
            "exact": [[int(ids[b]), int(ids[c])] for k, b, c in groups if k == "exact"],
            "near": [[int(ids[b]), int(ids[c])] for k, b, c in groups if k == "near"],
        })
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


# --------------------------------------------------------------------------
# search_batches: clustered embeddings, query batches, documents
# --------------------------------------------------------------------------

def build_search(seed: int, out: str) -> None:
    """A clustered embedding corpus, :data:`QUERY_BATCHES` batches of
    queries drawn near the cluster centres, a documents table and the
    BM25 query terms."""
    rng = _rng(seed, "search")
    centres = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, EMB_N)
    vecs = (centres[label] + rng.normal(0, EMB_SPREAD, (EMB_N, EMB_DIM))).astype(np.float32)
    _write_parts(pa.table({
        "vec_id": np.arange(EMB_N, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), os.path.join(out, "corpus.parquet"))
    n_q = QUERY_BATCHES * QUERIES_PER_BATCH
    qlab = rng.integers(0, EMB_CLUSTERS, n_q)
    qv = (centres[qlab] + rng.normal(0, EMB_SPREAD, (n_q, EMB_DIM))).astype(np.float32)
    _write(pa.table({
        # a separate id range: no query can be excluded as its own neighbour
        "vec_id": np.arange(10**9, 10**9 + n_q, dtype=np.int64),
        "embedding": pa.array(list(qv), pa.list_(pa.float32())),
        "batch": (np.arange(n_q) // QUERIES_PER_BATCH).astype(np.int32),
    }), os.path.join(out, "queries.parquet"))
    vocab = vocabulary()
    texts = [_sentence_doc(rng, vocab, int(rng.integers(20, 100))) for _ in range(SEARCH_DOCS)]
    _write_parts(pa.table({"doc_id": np.arange(SEARCH_DOCS, dtype=np.int64), "text": texts}),
           os.path.join(out, "documents.parquet"))
    terms = []
    for _ in range(QUERY_BATCHES * BM25_PER_BATCH):
        doc = texts[int(rng.integers(SEARCH_DOCS))].split(" ")
        terms.append(sorted({doc[int(i)] for i in rng.integers(0, len(doc), 3)}))
    with open(os.path.join(out, "bm25.json"), "w") as f:
        json.dump(terms, f)


# --------------------------------------------------------------------------
# event_stream: event files replayed through the file source
# --------------------------------------------------------------------------

def build_events(seed: int, out: str) -> None:
    """:data:`EVENT_FILES` parquet files of events in time order, which
    the stream replays with ``maxFilesPerTrigger=1``, and two more in
    ``warmup/`` for the warm-up replay."""
    rng = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    types = np.array(["view", "click", "cart", "buy", "search"])
    n = EVENTS_PER_FILE
    for sub, n_files in (("events", EVENT_FILES), ("warmup", 2)):
        os.makedirs(os.path.join(out, sub))
        for i in range(n_files):
            ts = t0 + np.sort(rng.integers(i * 3600, (i + 1) * 3600, n)) * np.timedelta64(1_000_000, "us")
            _write(pa.table({
                "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, EVENT_USERS, n).astype(np.int64),
                "event_type": types[rng.integers(0, len(types), n)],
                "value": rng.integers(0, 4000, n) / 4.0,
                "props": [f'{{"k":{int(x)}}}' for x in rng.integers(0, 50, n)],
            }), os.path.join(out, sub, f"part-{i:03d}.parquet"))


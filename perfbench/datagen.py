"""Seeded benchmark inputs, staged once per seed into a cache directory.

Two input sets:

* ``warehouse``: the ten parquet tables the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), in the schemas and value distributions of the
  sf0.01 test tables. Foreign keys are consistent by construction
  (every ``o_custkey`` names a customer, every ``l_orderkey`` an order,
  and so on). Generation is pure numpy/pyarrow, so it needs no Spark.
* ``medallion``: the six dirty source tables of
  ``sources.generator.generate_raw_tables``, written as header CSV in
  ``nparts`` part files per table (``sources.io.read_csv`` asks for many
  moderate files rather than one big one).

Both are deterministic in the seed: the same seed gives byte-identical
files. A stage directory is written under a temporary name and renamed
when complete, so an interrupted staging is never mistaken for a cached
one.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated content changes, so old caches are not reused
STAGE_VERSION = 1

#: the ``ref_date`` the medallion pipeline runs with (the reference
#: snapshot date), so date rules give the same rows on every day
REF_DATE = dt.date(2025, 3, 28)

#: sf0.01 table sizes
WAREHOUSE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = [
    "ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod",
]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _days(rng: np.random.Generator, start: str, n_days: int, size: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, size).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, size: int):
    return np.round(rng.uniform(lo, hi, size), 2)


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables for ``seed``."""
    rng = np.random.default_rng([seed, 7001])
    n = WAREHOUSE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart),
                            rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-01", 2499, nl),
    })
    ne = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype(
            "timedelta64[us]"
        ),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; ~5% are near
    duplicates (an earlier document plus a trailing ``dup`` token), as in
    the test corpus."""
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


class _RowCollector:
    """Stands in for the SparkSession that ``generate_raw_tables`` hands
    its rows to: ``createDataFrame`` returns the rows and schema as-is,
    so the generator's seeded output can be staged without a JVM."""

    @staticmethod
    def createDataFrame(data, schema):  # noqa: N802 — SparkSession API
        return list(data), schema


def _csv_field(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    return '"' + str(v).replace('"', '""') + '"'


def medallion_tables(n_clients: int, seed: int) -> dict[str, tuple]:
    """``generate_raw_tables`` output as ``{name: (rows, schema)}``."""
    from datawarehouse_vehicule_insurance_spark.sources.generator import (
        generate_raw_tables,
    )

    return generate_raw_tables(_RowCollector(), n_clients=n_clients, seed=seed)


def _write_warehouse(out: str, seed: int) -> dict:
    manifest = {}
    for name, table in warehouse_tables(seed).items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        manifest[name] = {"rows": table.num_rows,
                          "bytes": os.path.getsize(path)}
    return manifest


def _write_medallion(out: str, seed: int, n_clients: int, nparts: int) -> dict:
    manifest = {}
    for name, (rows, schema) in medallion_tables(n_clients, seed).items():
        tdir = os.path.join(out, f"{name}.csv")
        os.makedirs(tdir)
        header = ",".join(f.name for f in schema.fields) + "\n"
        size = 0
        for part in range(nparts):
            path = os.path.join(tdir, f"part-{part:05d}.csv")
            with open(path, "w", encoding="utf-8", newline="") as fh:
                fh.write(header)
                for row in rows[part::nparts]:
                    fh.write(",".join(_csv_field(v) for v in row) + "\n")
            size += os.path.getsize(path)
        manifest[name] = {"rows": len(rows), "bytes": size}
    return manifest


def stage(cache_root: str, kind: str, seed: int,
          **params) -> tuple[str, dict, bool]:
    """Stage the ``kind`` input set for ``seed`` under ``cache_root``.

    Returns ``(directory, manifest, staged_now)``; the manifest maps each
    table to its row count and on-disk bytes."""
    key = "-".join(
        [kind, f"v{STAGE_VERSION}", f"s{seed}"]
        + [f"{k}{v}" for k, v in sorted(params.items())]
    )
    final = os.path.join(cache_root, key)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return final, json.load(fh), False
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "warehouse":
        manifest = _write_warehouse(tmp, seed)
    elif kind == "medallion":
        manifest = _write_medallion(tmp, seed, **params)
    else:
        raise ValueError(f"unknown input set {kind!r}")
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, manifest, True

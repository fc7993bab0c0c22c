"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's
seed, so the same seed always gives byte-identical inputs and the
program only ever sees generated files:

  * ``write_fixtures`` — the 10-table analytics catalog (TPC-H-ish star
    schema + events + documents + embeddings) in the column layout
    ``kube_etl_spark.catalog`` expects (one parquet file per table, one
    row group each, the same physical types as the shipped fixtures).
  * ``krm_objects`` / ``krm_oplog`` / ``SYNC_RULES`` — a KRM watch
    op-log over core, apps and several ``*.cnrm.cloud.google.com``
    groups, with Zipf-skewed object popularity (hot objects keep
    changing status) and a few percent of deletes, plus a KRMSyncer
    rule table that covers every matching and routing path.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of one catalog "scale". The shipped sf0.01 fixture has the
# same shape; the benchmark multiplies every data-sized table by
# ``scale`` (dimension tables stay fixed, as in TPC-H).
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "the a join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_PART_ADJ = ("red", "blue", "small", "hot", "old", "big", "green", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")


def _ts(values, unit: str) -> pa.Array:
    return pa.array(values.astype(f"datetime64[{unit}]"), type=pa.timestamp(unit))


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The analytics catalog as Arrow tables (deterministic in seed)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    day0 = np.datetime64("1995-01-01", "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, no), "ms"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(day0 + 1 + rng.integers(0, 2498, nl), "ms"),
    })
    ne = n["events"]
    # ~30 days of events whatever the row count
    gaps_us = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us), "us"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # positive cases
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_fixtures(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the catalog under ``out_dir/<table>.parquet``; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# KRM op-log
# --------------------------------------------------------------------------

# (group, version, kind, weight): the object population's GVK mix.
GVKS = (
    ("", "v1", "ConfigMap", 0.25),
    ("", "v1", "Service", 0.10),
    ("apps", "v1", "Deployment", 0.20),
    ("apps", "v1", "StatefulSet", 0.05),
    ("storage.cnrm.cloud.google.com", "v1beta1", "StorageBucket", 0.15),
    ("sql.cnrm.cloud.google.com", "v1beta1", "SQLInstance", 0.10),
    ("compute.cnrm.cloud.google.com", "v1beta1", "ComputeNetwork", 0.10),
    ("cnrm.cloud.google.com", "v1beta1", "ConfigConnector", 0.05),
)
NAMESPACES = tuple(f"ns-{i:02d}" for i in range(20))
ZIPF_S = 1.1          # object popularity exponent of the op-log
DELETE_SHARE = 0.03   # share of op-log events that are deletes

# One rule per syncer. Every matching path of the rule engine appears:
# exact GVK, the `*.cnrm.cloud.google.com` glob, an exact-KCC-group glob,
# namespace in-lists, each sync_fields value (and the null default),
# a suspended syncer, an invalid glob, a pull syncer whose mode is left
# to the default, and push syncers on two remotes. Three active syncers
# keep a micro-batch at three state merges.
RULE_COLUMNS = (
    "syncer_name", "syncer_namespace", "suspend", "mode", "rule_group",
    "rule_version", "rule_kind", "namespaces", "sync_fields", "remote_secret",
)
RULE_SCHEMA = (
    "syncer_name string, syncer_namespace string, suspend boolean, "
    "mode string, rule_group string, rule_version string, "
    "rule_kind string, namespaces array<string>, "
    "sync_fields array<string>, remote_secret string"
)
SYNC_RULES = (
    ("buckets", "infra", False, None, "storage.cnrm.cloud.google.com", "*", "*",
     list(NAMESPACES[:12]), ["spec"], None),
    ("deployments", "infra", False, "push", "apps", "v1", "Deployment",
     list(NAMESPACES[:8]), ["spec", "status"], "kc-apps"),
    ("kcc-ids", "infra", False, "push", "*.cnrm.cloud.google.com", "*", "*",
     None, ["spec.resourceID"], "kc-kcc"),
    ("statefulsets", "infra", True, "pull", "apps", "v1", "StatefulSet", None, None, None),
    ("bad-glob", "infra", False, "pull", "apps", "*", "Deployment", None, None, None),
)

# The op-log landing format (jobs/run_syncer.py OBJ_SCHEMA).
OBJ_SCHEMA = (
    "seq long, op string, group string, version string, kind string, "
    "namespace string, name string, labels map<string,string>, "
    "annotations map<string,string>, "
    "spec struct<foo:string,resourceID:string>, status struct<bar:string>"
)


def krm_objects(seed: int, n_objects: int) -> list[tuple[str, str, str, str, str]]:
    """The object population: (group, version, kind, namespace, name)."""
    rng = np.random.default_rng([seed, 1])
    w = np.array([g[3] for g in GVKS])
    kinds = rng.choice(len(GVKS), n_objects, p=w / w.sum())
    nss = rng.integers(0, len(NAMESPACES), n_objects)
    out = []
    for i, (k, n) in enumerate(zip(kinds, nss)):
        g, v, kind, _ = GVKS[k]
        out.append((g, v, kind, NAMESPACES[n], f"{kind.lower()}-{i:06d}"))
    return out


def _event(seq: int, op: str, obj, gen: int, rng) -> dict:
    g, v, kind, ns, name = obj
    row = {"seq": seq, "op": op, "group": g, "version": v, "kind": kind,
           "namespace": ns, "name": name}
    if op == "delete":
        row.update(labels=None, annotations=None, spec=None, status=None)
        return row
    rid = None if int(name[-6:]) % 7 == 0 else f"rid-{name}"
    row.update(
        labels={"app": name.rsplit("-", 1)[0], "tier": f"t{gen % 3}"},
        annotations={"rev": str(gen)},
        spec={"foo": f"foo-{gen // 4}", "resourceID": rid},
        status={"bar": f"bar-{gen}-{int(rng.integers(0, 1 << 30))}"},
    )
    return row


def krm_oplog(
    seed: int,
    n_objects: int,
    n_batches: int,
    batch_events: int,
) -> tuple[list[dict], list[list[dict]]]:
    """(initial snapshot, batches): the snapshot creates every object
    once (seq 1..n); each later batch holds ``batch_events`` events whose
    object is drawn Zipf-skewed (a hot object gets many status updates,
    and deletes land on hot keys too). A deleted object's next event
    re-creates it. ``seq`` strictly increases over the whole log."""
    objs = krm_objects(seed, n_objects)
    rng = np.random.default_rng([seed, 2])
    rank = rng.permutation(n_objects)
    p = 1.0 / np.power(np.arange(1, n_objects + 1), ZIPF_S)
    p = (p / p.sum())[rank]
    gen = [0] * n_objects
    alive = [True] * n_objects
    seq = 0
    snapshot = []
    for o in objs:
        seq += 1
        snapshot.append(_event(seq, "upsert", o, 0, rng))
    batches = []
    for _ in range(n_batches):
        picks = rng.choice(n_objects, batch_events, p=p)
        dels = rng.random(batch_events) < DELETE_SHARE
        batch = []
        for i, d in zip(picks, dels):
            seq += 1
            if d and alive[i]:
                alive[i] = False
                batch.append(_event(seq, "delete", objs[i], gen[i], rng))
            else:
                alive[i] = True
                gen[i] += 1
                batch.append(_event(seq, "upsert", objs[i], gen[i], rng))
        batches.append(batch)
    return snapshot, batches


def write_jsonl(path: str, rows: list[dict]) -> None:
    """One op-log file in the streaming landing format (JSON lines)."""
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def rule_dicts() -> list[dict]:
    return [dict(zip(RULE_COLUMNS, r)) for r in SYNC_RULES]

"""Tests of the benchmark's own generators and replay reference (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider

The replay cases are the KRMSyncer golden cases of tests/test_sync.py
(the reference's integration corpus), re-derived without the engine.
"""

from __future__ import annotations

import pyarrow as pa

from datagen import catalog_tables, krm_oplog, rule_dicts
from replay import SyncReplay

# -- generators --------------------------------------------------------------


def test_same_seed_same_batches():
    a = krm_oplog(5, 500, 4, 50)
    b = krm_oplog(5, 500, 4, 50)
    assert a == b
    assert krm_oplog(6, 500, 4, 50) != a


def test_same_seed_same_catalog():
    a = catalog_tables(5, 0.05)
    b = catalog_tables(5, 0.05)
    assert set(a) == set(b)
    assert all(a[t].equals(b[t]) for t in a)
    assert not catalog_tables(6, 0.05)["lineitem"].equals(a["lineitem"])
    assert a["orders"].schema.field("o_orderdate").type == pa.timestamp("ms")
    assert a["events"].schema.field("ts").type == pa.timestamp("us")


def test_oplog_shape():
    snapshot, batches = krm_oplog(3, 2000, 20, 200)
    events = snapshot + [e for b in batches for e in b]
    seqs = [e["seq"] for e in events]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    stream = [e for b in batches for e in b]
    deletes = [e for e in stream if e["op"] == "delete"]
    assert 0.01 < len(deletes) / len(stream) < 0.05
    # Zipf skew: the hottest object gets a large share of the updates,
    # and hot keys are deleted too
    counts: dict[str, int] = {}
    for e in stream:
        counts[e["name"]] = counts.get(e["name"], 0) + 1
    hottest = sorted(counts, key=counts.get, reverse=True)
    assert counts[hottest[0]] > 20 * len(stream) / 2000
    assert {e["name"] for e in deletes} & set(hottest[:20])
    groups = {e["group"] for e in events}
    assert {"", "apps"} <= groups
    assert sum(g.endswith(".cnrm.cloud.google.com") for g in groups) >= 3
    assert len({e["namespace"] for e in events}) == 20


def test_rules_cover_every_path():
    rules = SyncReplay(rule_dicts()).rules
    assert any(r.suspend for r in rules)
    assert any(r.reject for r in rules)
    assert any(r.group == "*.cnrm.cloud.google.com" for r in rules)
    assert any(r.group.endswith(".cnrm.cloud.google.com") and r.group[0] != "*"
               and r.version == "*" for r in rules)
    assert any(r.namespaces for r in rules)
    assert {f for r in rules for f in r.sync_fields} == {"spec", "status", "spec.resourceID"}
    assert any(r.mode == "pull" for r in rules)
    assert len({r.secret for r in rules if r.mode == "push"}) >= 2


# -- replay vs the golden cases ----------------------------------------------

GOLDEN_OPLOG = [
    (1, "upsert", "e2e.gkelabs.io", "v1alpha1", "TestCRD", "default", "obj1",
     {"app": "x"}, {"note": "n1"}, ("foo-v1", "rid-1"), ("bar-v1",)),
    (2, "upsert", "e2e.gkelabs.io", "v1alpha1", "TestCRD", "default", "obj1",
     {"app": "x"}, {"note": "n1"}, ("foo-v2", "rid-1"), ("bar-v2",)),
    (3, "upsert", "kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource", "prod", "obj2",
     {}, {}, ("kfoo", "rid-2"), ("kbar",)),
    (4, "upsert", "fake.cnrm.cloud.google.com", "v1", "FakeObject", "dev", "obj3",
     {}, {}, ("ffoo", None), ("fbar",)),
    (5, "upsert", "e2e.gkelabs.io", "v1alpha1", "TestCRD", "default", "gone",
     {}, {}, ("g", "rid-g"), ("gb",)),
    (6, "delete", "e2e.gkelabs.io", "v1alpha1", "TestCRD", "default", "gone",
     None, None, None, None),
]
COLS = ("seq", "op", "group", "version", "kind", "namespace", "name",
        "labels", "annotations", "spec", "status")


def _events():
    out = []
    for row in GOLDEN_OPLOG:
        e = dict(zip(COLS, row))
        if e["spec"] is not None:
            e["spec"] = dict(zip(("foo", "resourceID"), e["spec"]))
        if e["status"] is not None:
            e["status"] = {"bar": e["status"][0]}
        out.append(e)
    return out


def _final_state(*rules):
    """Per-syncer destinations, as tests/test_sync.py's sync_to_state."""
    cols = ("syncer_name", "suspend", "mode", "rule_group", "rule_version",
            "rule_kind", "namespaces", "sync_fields")
    rp = SyncReplay([dict(zip(cols, r)) for r in rules], route=lambda r: r.syncer)
    rp.apply(_events())

    def t(d, keys):
        return None if d is None else tuple(d[k] for k in keys)

    return {
        dest: {
            (k[3], k[4]): (t(v[2], ("foo", "resourceID")), t(v[3], ("bar",)))
            for k, v in rp.live(dest).items()
        }
        for dest in rp.dests
        if rp.live(dest)
    }


TESTCRD_RULE = ("s1", False, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, None)


def test_case_basic_status_only_default():
    assert _final_state(TESTCRD_RULE) == {"s1": {("default", "obj1"): (None, ("bar-v2",))}}


def test_case_spec_and_status():
    rule = ("s1", False, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, ["spec", "status"])
    assert _final_state(rule) == {"s1": {("default", "obj1"): (("foo-v2", "rid-1"), ("bar-v2",))}}


def test_case_resourceid_nested_projection():
    rule = ("s1", False, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, ["spec.resourceID"])
    assert _final_state(rule) == {"s1": {("default", "obj1"): ((None, "rid-1"), None)}}


def test_case_glob_fanout():
    rule = ("sg", False, "push", "*.cnrm.cloud.google.com", "*", "*", None, ["spec", "status"])
    assert set(_final_state(rule)["sg"]) == {("prod", "obj2"), ("dev", "obj3")}


def test_case_pull_mode_and_default():
    rule = ("sp", False, None, "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, None)
    assert SyncReplay([dict(syncer_name="sp", mode=None, rule_group="g", rule_version="v",
                            rule_kind="k")]).rules[0].mode == "pull"
    assert _final_state(rule) == {"sp": {("default", "obj1"): (None, ("bar-v2",))}}


def test_case_pull_glob():
    rule = ("spg", False, "pull", "*.cnrm.cloud.google.com", "*", "*", ["default"], ["spec"])
    assert _final_state(rule) == {}
    rule = ("spg", False, "pull", "*.cnrm.cloud.google.com", "*", "*", ["prod"], ["spec"])
    state = _final_state(rule)
    assert set(state["spg"]) == {("prod", "obj2")}
    spec, status = state["spg"][("prod", "obj2")]
    assert spec is not None and status is None


def test_case_suspend():
    assert _final_state(("ss", True, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, None)) == {}


def test_namespace_inlist():
    rule = ("sn", False, "push", "*.cnrm.cloud.google.com", "*", "*", ["prod"], ["status"])
    assert set(_final_state(rule)["sn"]) == {("prod", "obj2")}


def test_fanout_multiple_syncers():
    state = _final_state(
        TESTCRD_RULE,
        ("s2", False, "pull", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, ["spec"]),
    )
    assert set(state) == {"s1", "s2"}
    assert state["s1"][("default", "obj1")] == (None, ("bar-v2",))
    assert state["s2"][("default", "obj1")] == (("foo-v2", "rid-1"), None)


def test_glob_validation_table():
    table = [
        ("e2e.gkelabs.io", "v1alpha1", "TestCRD", True),
        ("*.cnrm.cloud.google.com", "*", "*", True),
        ("kcc.cnrm.cloud.google.com", "*", "*", True),
        ("cnrm.cloud.google.com", "*", "*", True),
        ("*", "v1", "Pod", False),
        ("apps", "v1", "Deploy*", False),
        ("*.cnrm.cloud.google.com", "v1", "*", False),
        ("*.cnrm.cloud.google.com", "*", "Thing", False),
        ("*.example.com", "*", "*", False),
        ("*.evilcnrm.cloud.google.com", "*", "*", False),
        ("e2e.gkelabs.io", "*", "TestCRD", False),
    ]
    for g, v, k, valid in table:
        rule = SyncReplay([dict(syncer_name="s", rule_group=g, rule_version=v,
                                rule_kind=k)]).rules[0]
        assert (rule.reject is None) is valid, (g, v, k)


def test_syncer_status_conditions():
    cols = ("syncer_name", "suspend", "mode", "rule_group", "rule_version",
            "rule_kind", "namespaces", "sync_fields")
    rules = [
        ("ok", False, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, None),
        ("ok", False, "push", "*.cnrm.cloud.google.com", "*", "*", ["prod"], None),
        ("bad", False, "push", "apps", "*", "Deployment", None, None),
        ("bad", False, "push", "e2e.gkelabs.io", "v1alpha1", "TestCRD", None, None),
        ("off", True, "push", "*.example.com", "*", "*", None, None),
    ]
    rp = SyncReplay([dict(zip(cols, r)) for r in rules])
    # the golden catalog adds apps/v1/Deployment, which no oplog event carries
    got = rp.apply(_events())
    summary = {
        k: (v["condition"], v["reason"], v["n_rules"], v["n_invalid"], v["last_sync_seq"])
        for k, v in got.items()
    }
    assert summary == {
        "ok": ("Active", "Active", 2, 0, 6),
        "bad": ("InvalidRule", "InvalidGlob", 2, 1, -1),
        "off": ("Suspended", "SuspendedBySpec", 1, 1, -1),
    }
    assert got["ok"]["matched_gvks"] == 3

"""Pure-Python replay of the KRMSyncer pipeline — the reference the
``cdc_sync`` workload checks the engine against.

It re-derives, from the rule table and the op-log alone, what
``streaming.sync`` + ``streaming.cdc`` must produce: the rule defaults
and glob validation, the match predicate (exact GVK, the
``*.cnrm.cloud.google.com`` suffix glob, exact-KCC-group globs,
namespace in-lists), the suspend gate, the sync_fields projection, the
mode-aware destination routing, last-writer-wins upserts with delete
tombstones, and the per-syncer status rows. No Spark is involved.
"""

from __future__ import annotations

KCC_SUFFIX = ".cnrm.cloud.google.com"
VALID_SYNC_FIELDS = ("spec", "status", "spec.resourceID")
LOCAL = "local"


class Rule:
    def __init__(self, d: dict):
        self.syncer = d["syncer_name"]
        self.suspend = bool(d.get("suspend"))
        self.mode = d.get("mode") or "pull"
        self.group = d["rule_group"]
        self.version = d["rule_version"]
        self.kind = d["rule_kind"]
        self.namespaces = list(d.get("namespaces") or [])
        self.sync_fields = list(d.get("sync_fields") or []) or ["status"]
        self.syncer_namespace = d.get("syncer_namespace") or "default"
        self.secret = d.get("remote_secret")
        self.reject = self._reject_reason()

    def _is_kcc_group(self) -> bool:
        return self.group.endswith(KCC_SUFFIX) or self.group == KCC_SUFFIX[1:]

    def _reject_reason(self) -> str | None:
        if any(f not in VALID_SYNC_FIELDS for f in self.sync_fields):
            return "invalid sync_fields entry"
        has_glob = "*" in self.group or "*" in self.version or "*" in self.kind
        legal = self._is_kcc_group() and self.version == "*" and self.kind == "*"
        if has_glob and not legal:
            return (
                "glob only legal for version/kind when group is KCC "
                "(e.g. *.cnrm.cloud.google.com)"
            )
        return None

    def matches_gvk(self, group: str, version: str, kind: str) -> bool:
        if self._is_kcc_group() and self.version == "*" and self.kind == "*":
            if self.group == "*" + KCC_SUFFIX:
                return group.endswith(KCC_SUFFIX[1:])
            return group == self.group
        return (group, version, kind) == (self.group, self.version, self.kind)

    def matches(self, ev: dict) -> bool:
        return self.matches_gvk(ev["group"], ev["version"], ev["kind"]) and (
            not self.namespaces or ev["namespace"] in self.namespaces
        )

    def project(self, ev: dict) -> tuple:
        """(labels, annotations, spec, status) as the engine persists them."""
        spec = ev.get("spec")
        if "spec" in self.sync_fields:
            out_spec = spec
        elif "spec.resourceID" in self.sync_fields:
            rid = (spec or {}).get("resourceID")
            out_spec = None if rid is None else {"foo": None, "resourceID": rid}
        else:
            out_spec = None
        status = ev.get("status") if "status" in self.sync_fields else None
        return (ev.get("labels"), ev.get("annotations"), out_spec, status)


def default_route(rule: Rule) -> str | None:
    """The engine's mode-aware destination: pull → the local state,
    push → the remote named by (syncer namespace, secret), push with no
    secret → skipped (None)."""
    if rule.mode != "push":
        return LOCAL
    if rule.secret is None:
        return None
    return f"{rule.syncer_namespace}~{rule.secret}"


def key_of(ev: dict) -> tuple:
    return (ev["group"], ev["version"], ev["kind"], ev["namespace"], ev["name"])


class SyncReplay:
    """Incremental replay: feed batches in order, read the expected
    destination states and status rows after each."""

    def __init__(self, rules: list[dict], route=default_route):
        self.rules = [Rule(r) for r in rules]
        per_syncer: dict[str, list[Rule]] = {}
        for r in self.rules:
            per_syncer.setdefault(r.syncer, []).append(r)
        self._per_syncer = per_syncer
        # compile_sync drops invalid and suspended RULES one by one
        self.active = [r for r in self.rules if r.reject is None and not r.suspend]
        self.route = {r.syncer: route(r) for r in self.active}
        # dest -> key -> (seq, payload or None for a tombstone)
        self.dests: dict[str, dict[tuple, tuple]] = {}
        self.last_seq = {s: -1 for s in per_syncer}
        self.events = 0
        self.matched_events = 0
        self.changed_rows = 0

    def apply(self, batch: list[dict]) -> dict[str, dict]:
        """Apply one micro-batch; returns the expected status rows."""
        for ev in sorted(batch, key=lambda e: e["seq"]):
            self.events += 1
            hit = False
            for r in self.active:
                if not r.matches(ev):
                    continue
                hit = True
                self.changed_rows += 1
                dest = self.route[r.syncer]
                if dest is None:
                    continue
                state = self.dests.setdefault(dest, {})
                k = key_of(ev)
                prev = state.get(k)
                if prev is not None and prev[0] > ev["seq"]:
                    continue
                payload = None if ev["op"] == "delete" else r.project(ev)
                state[k] = (ev["seq"], payload)
            self.matched_events += hit
        return self._status(batch)

    def _status(self, batch: list[dict]) -> dict[str, dict]:
        gvks = {(e["group"], e["version"], e["kind"]) for e in batch}
        out = {}
        for name, rules in self._per_syncer.items():
            suspended = any(r.suspend for r in rules)
            invalid = [r.reject for r in rules if r.reject is not None]
            healthy = not suspended and not invalid
            matched = set()
            if healthy:
                for r in rules:
                    matched |= {g for g in gvks if r.matches_gvk(*g)}
                    seqs = [e["seq"] for e in batch if r.matches(e)]
                    if seqs:
                        self.last_seq[name] = max(self.last_seq[name], max(seqs))
            if suspended:
                cond = ("Suspended", "SuspendedBySpec", "Controller is suspended")
            elif invalid:
                cond = ("InvalidRule", "InvalidGlob", min(invalid))
            else:
                cond = ("Active", "Active", "Controller is active")
            out[name] = {
                "condition": cond[0],
                "reason": cond[1],
                "message": cond[2],
                "n_rules": len(rules),
                "n_invalid": len(invalid),
                "matched_gvks": len(matched),
                "last_sync_seq": self.last_seq[name],
            }
        return out

    def live(self, dest: str, namespace: str | None = None) -> dict[tuple, tuple]:
        """Live rows of one destination: key → (labels, annotations, spec, status)."""
        return {
            k: v[1]
            for k, v in self.dests.get(dest, {}).items()
            if v[1] is not None and (namespace is None or k[3] == namespace)
        }

    def state_rows(self) -> tuple[int, int]:
        """(all persisted rows incl. tombstones, tombstones) over every destination."""
        rows = sum(len(s) for s in self.dests.values())
        dead = sum(1 for s in self.dests.values() for v in s.values() if v[1] is None)
        return rows, dead

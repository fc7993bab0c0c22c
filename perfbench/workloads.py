"""The benchmark workloads. Each is a closed loop with one client.

A workload builds its inputs from the seed in ``setup`` (untimed,
counted in set-up time), offers untimed, output-checked warm-up ops,
and then yields rounds of timed ops. Every op carries a check that runs
after its timed region; an op that raises or whose check fails counts
as failed. Each op is a read (it writes nothing) or a write.

  batch      the analytics side over one seeded catalog. Reads: registry
             headliners, each built with ``spec.fn`` and materialized
             through the ``noop`` sink. Writes: the export job
             (``run_export`` of all 10 tables into a fresh directory).
             A round runs every headliner once (in a seed-shuffled
             order) and then one export.
  cdc_sync   the KRMSyncer loop. Writes: one micro-batch (read the landed
             batch file → compile_sync → sync_to_destinations → status
             publish). Reads: one consumer read per destination after it.
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import nullcontext

from datagen import (
    DELETE_SHARE,
    OBJ_SCHEMA,
    RULE_SCHEMA,
    SYNC_RULES,
    krm_oplog,
    rule_dicts,
    write_fixtures,
    write_jsonl,
)
from replay import LOCAL, SyncReplay

# A spread of the registry's bench headliners over the operator
# families (aggregate, joins, top-k, window, text, dedup), sized so the
# oracle warm-up pass and several measured rounds fit one run.
HEADLINERS = (
    "q_agg_groupby",
    "q_join_star",
    "q_tpch_q3_shipping_priority",
    "q_window_topk_group",
    "q_text_stats",
    "q_dedup_exact",
)
CATALOG_SCALE = 0.5   # x the row counts of the shipped sf0.01 fixture
CDC_OBJECTS = 4000
CDC_BATCH_EVENTS = 200
CDC_BATCHES = 60
CDC_READS_PER_DEST = 3  # consumer reads per destination after each micro-batch
KEY_COLS = ["group", "version", "kind", "namespace", "name"]


class Op:
    """One unit of work: ``run`` is timed; ``check(result)`` is not and
    returns (rows, problem or None). ``cls`` is "read" or "write";
    ``primary`` ops are the ones per-layer metrics are normalized by."""

    __slots__ = ("kind", "cls", "run", "check", "primary")

    def __init__(self, kind, cls, run, check, primary=True):
        self.kind, self.cls, self.run, self.check = kind, cls, run, check
        self.primary = primary


class Context:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory, following the top-level link."""
    total = files = 0
    for root, _dirs, fs in os.walk(os.path.realpath(path)):
        for f in fs:
            total += os.path.getsize(os.path.join(root, f))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
class Batch:
    name = "batch"
    # a traced run alternates traced and untraced ops of each kind (see
    # run.TRACE_PATTERN); four rounds give every kind both
    trace_rounds = 4

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected_rows: dict[str, int] = {}
        self.out_bytes: list[int] = []
        self.out_files: list[int] = []
        self.exports = 0

    def setup(self) -> dict:
        from kube_etl_spark.registry import all_specs

        self.sf = os.path.join(self.ctx.work, "catalog")
        self.input_rows = write_fixtures(self.sf, self.ctx.seed, CATALOG_SCALE)
        self.objects = sum(self.input_rows.values())
        specs = all_specs()
        self.specs = [specs[n] for n in HEADLINERS]
        random.Random(self.ctx.seed).shuffle(self.specs)
        tracer = self.ctx.tracer
        self.build = {
            s.name: tracer.wrap("queries.build", s.fn) if tracer else s.fn
            for s in self.specs
        }
        return {"catalog_rows": self.objects, "headliners": [s.name for s in self.specs]}

    def warmup_ops(self) -> list[Op]:
        """The oracle pass — every headliner checked against its DuckDB
        oracle (tests/oracle.check_query; rows-only specs must be
        non-empty) — then two untimed rounds: the noop-sink path and the
        export are new to the JVM, and the first round after them still
        runs 10–30 % slower than the next."""
        return [
            *map(self._oracle_op, self.specs),
            *map(self._query_op, self.specs),
            self._export_op(primary=False),
            *map(self._query_op, self.specs),
            self._export_op(primary=False),
        ]

    def round(self, i: int) -> list[Op]:
        return [*map(self._query_op, self.specs), self._export_op()]

    def _oracle_op(self, spec) -> Op:
        from tests.oracle import check_query, duckdb_conn

        spark, sf = self.ctx.spark, self.sf

        def run():
            if spec.oracle is None:
                n = spec.fn(spark, sf).count()
                return n, [] if n > 0 else [f"{spec.name}: empty result"]
            problems = check_query(spark, spec.name, sf)
            con = duckdb_conn(sf)
            try:
                n = con.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
            finally:
                con.close()
            return n, problems

        def check(res):
            n, problems = res
            self.expected_rows[spec.name] = n
            return n, "; ".join(problems) or None

        return Op(f"oracle:{spec.name}", "read", run, check, primary=False)

    def _query_op(self, spec) -> Op:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, sf, build = self.ctx.spark, self.sf, self.build[spec.name]

        def run():
            obs = Observation(f"rows_{spec.name}")
            df = build(spark, sf).observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
            return obs.get["n"]

        def check(n):
            want = self.expected_rows.get(spec.name)
            if want is None:
                return n, f"{spec.name}: no oracle-checked row count"
            if n != want:
                return n, f"{spec.name}: {n} rows, oracle-checked count is {want}"
            return n, None

        return Op(spec.name, "read", run, check)

    def _export_op(self, primary: bool = True) -> Op:
        from pyspark.sql import functions as F

        from kube_etl_spark.plans import export_job

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"export-{self.exports}")
        self.exports += 1

        def run():
            return export_job.run_export(spark, self.sf, out)

        def check(returned):
            try:
                problems = []
                # counts from the benchmark's own read-back of the output,
                # not from the counts run_export returns
                per_table = spark.read.json(out).groupBy("table_name").agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.count_distinct("path").alias("paths"),
                ).collect()
                counts = {r["table_name"]: r["rows"] for r in per_table}
                if counts != self.input_rows:
                    problems.append(f"written per-table counts {counts} "
                                    f"!= generated {self.input_rows}")
                dup = sum(r["rows"] - r["paths"] for r in per_table)
                if dup:
                    problems.append(f"{dup} duplicate paths")
                if returned != self.input_rows:
                    problems.append(f"run_export returned counts {returned} "
                                    f"!= generated {self.input_rows}")
                if primary:
                    b, f = _du(out)
                    self.out_bytes.append(b)
                    self.out_files.append(f)
                return sum(counts.values()), "; ".join(problems) or None
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return Op("export", "write", run, check, primary)

    def final_ops(self) -> list[Op]:
        return []

    def finish(self) -> dict:
        out = {"rows_out_per_round": sum(self.expected_rows.values())}
        if self.out_bytes:
            out_bytes = sum(self.out_bytes) / len(self.out_bytes)
            out.update(
                bytes_per_row=out_bytes / self.objects,
                output_bytes=out_bytes,
                output_files=sum(self.out_files) / len(self.out_files),
            )
        return out


# ---------------------------------------------------------------------------
def _norm_row(r) -> tuple[tuple, tuple]:
    def d(v):
        return None if v is None else (v.asDict() if hasattr(v, "asDict") else dict(v))

    key = (r["group"], r["version"], r["kind"], r["namespace"], r["name"])
    return key, (d(r["labels"]), d(r["annotations"]), d(r["spec"]), d(r["status"]))


def _diff(dest: str, got: dict, want: dict) -> str | None:
    limit = 3  # keys shown per kind of difference
    if got == want:
        return None
    missing = [k for k in want if k not in got][:limit]
    extra = [k for k in got if k not in want][:limit]
    wrong = [k for k in want if k in got and got[k] != want[k]][:limit]
    return (
        f"{dest}: engine {len(got)} rows vs replay {len(want)}; "
        f"missing {missing} extra {extra} differing "
        f"{[(k, got[k], want[k]) for k in wrong]}"
    )


class CdcSync:
    name = "cdc_sync"
    trace_rounds = 4

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self) -> dict:
        from kube_etl_spark.streaming.cdc import StateTable
        from kube_etl_spark.streaming.sync import DestinationRegistry

        spark, work = self.ctx.spark, self.ctx.work
        snapshot, batches = krm_oplog(
            self.ctx.seed, CDC_OBJECTS, CDC_BATCHES, CDC_BATCH_EVENTS
        )
        land = os.path.join(work, "oplog")
        os.makedirs(land)
        self.batches = []
        for i, rows in enumerate([snapshot, *batches]):
            path = os.path.join(land, f"batch-{i:05d}.json")
            write_jsonl(path, rows)
            self.batches.append((path, rows))
        self.next_batch = 0
        self.rules = spark.createDataFrame(list(SYNC_RULES), RULE_SCHEMA)
        state = os.path.join(work, "state")
        self.local = StateTable(spark, f"{state}/local", KEY_COLS, "seq")
        self.remote_tables: dict[str, StateTable] = {}

        def factory(cred):
            name = f"{cred['namespace']}~{cred['secret']}"
            t = StateTable(spark, f"{state}/remote/{name}", KEY_COLS, "seq")
            self.remote_tables[name] = t
            return t

        self.registry = DestinationRegistry(factory)
        self.status_path = f"{state}/status"
        self.replay = SyncReplay(rule_dicts())
        self.namespaces = sorted({r["namespace"] for r in snapshot})
        # initial state: the snapshot batch through the same pipeline
        path, rows = self._take_batch()
        self._micro_batch(path)
        problems = self._check_after(rows)
        if problems:
            raise RuntimeError(f"initial state load failed its check: {problems}")
        rows, _dead = self.replay.state_rows()
        return {"state_rows": rows, "batch_events": CDC_BATCH_EVENTS,
                "delete_share": DELETE_SHARE}

    def _take_batch(self):
        if self.next_batch >= len(self.batches):
            raise RuntimeError("op-log exhausted: raise CDC_BATCHES")
        b = self.batches[self.next_batch]
        self.next_batch += 1
        return b

    def _dest_tables(self) -> dict[str, object]:
        return {LOCAL: self.local, **self.remote_tables}

    # -- the micro-batch body (jobs/run_syncer.py's foreachBatch) ---------
    def _micro_batch(self, path: str) -> None:
        from kube_etl_spark.streaming import sync

        spark = self.ctx.spark
        batch = spark.read.schema(OBJ_SCHEMA).json(path)
        changes = sync.compile_sync(batch, self.rules)
        _written, skipped = sync.sync_to_destinations(
            changes, self.rules, self.local, self.registry
        )
        if skipped:
            raise RuntimeError(f"syncers skipped: {skipped}")
        self._publish_status(batch)

    def _publish_status(self, batch) -> None:
        from pyspark.sql import functions as F

        from kube_etl_spark.streaming import cdc, sync

        spark = self.ctx.spark
        span = self.ctx.tracer.span("sync.status") if self.ctx.tracer else nullcontext()
        with span:
            st = sync.syncer_status(
                self.rules,
                batch.select("group", "version", "kind").distinct(),
                batch.select("group", "version", "kind", "namespace", "seq"),
            )
            if os.path.lexists(self.status_path):
                prev_rows = spark.read.parquet(self.status_path).select(
                    "syncer_name", "last_sync_seq"
                ).collect()
                if prev_rows:
                    prev = spark.createDataFrame(
                        [(r["syncer_name"], r["last_sync_seq"]) for r in prev_rows],
                        "syncer_name string, __prev long",
                    )
                    st = (
                        st.join(prev, "syncer_name", "left")
                        .withColumn(
                            "last_sync_seq",
                            F.greatest("last_sync_seq", F.coalesce("__prev", F.lit(-1))),
                        )
                        .drop("__prev")
                    )
            cdc.atomic_overwrite(st, self.status_path)

    def _check_status(self, want: dict) -> str | None:
        got = {
            r["syncer_name"]: {k: r[k] for k in next(iter(want.values()))}
            for r in self.ctx.spark.read.parquet(self.status_path).collect()
        }
        if got != want:
            bad = {k: (got.get(k), want.get(k)) for k in set(got) | set(want)
                   if got.get(k) != want.get(k)}
            return f"status differs from replay: {bad}"
        return None

    def _check_after(self, rows) -> str | None:
        return self._check_status(self.replay.apply(rows))

    def _batch_op(self, primary: bool = True) -> Op:
        path, rows = self._take_batch()

        def check(_):
            return len(rows), self._check_after(rows)

        return Op("micro_batch", "write", lambda: self._micro_batch(path), check, primary)

    def _read_ops(self, i: int) -> list[Op]:
        """Reads of CDC_READS_PER_DEST namespaces (rotating) per destination."""
        from pyspark.sql import functions as F

        ops = []
        for k in range(CDC_READS_PER_DEST):
            ns = self.namespaces[(i * CDC_READS_PER_DEST + k) % len(self.namespaces)]
            for dest, table in sorted(self._dest_tables().items()):
                def run(table=table, ns=ns):
                    return table.read().filter(F.col("namespace") == ns).collect()

                def check(rows, dest=dest, ns=ns):
                    got = dict(_norm_row(r) for r in rows)
                    return len(rows), _diff(f"{dest}[{ns}]", got, self.replay.live(dest, ns))

                ops.append(Op(f"state_read:{dest}", "read", run, check, primary=False))
        return ops

    def warmup_ops(self) -> list[Op]:
        # the snapshot load in setup already ran the pipeline once cold;
        # micro-batches keep getting faster for two more, reads level off
        # after a few
        return [self._batch_op(primary=False), *self._read_ops(0),
                self._batch_op(primary=False)]

    def round(self, i: int) -> list[Op]:
        return [self._batch_op(), *self._read_ops(i)]

    def final_ops(self) -> list[Op]:
        """Every destination's whole state against the replay."""
        tables = sorted(self._dest_tables().items())

        def run():
            return {dest: t.read().collect() for dest, t in tables}

        def check(states):
            problems = [
                _diff(dest, dict(_norm_row(r) for r in rows), self.replay.live(dest))
                for dest, rows in states.items()
            ]
            problems = [f"final state {p}" for p in problems if p]
            return sum(len(rows) for rows in states.values()), "; ".join(problems) or None

        return [Op("final_state", "read", run, check, primary=False)]

    def finish(self) -> dict:
        rp = self.replay
        live_rows = sum(len(rp.live(dest)) for dest in self._dest_tables())
        state_bytes = sum(_du(t.path)[0] for t in self._dest_tables().values())
        rows, dead = rp.state_rows()
        return {
            "bytes_per_row": state_bytes / max(live_rows, 1),
            "state_rows": rows,
            "tombstone_ratio": dead / max(rows, 1),
            "match_ratio": rp.matched_events / max(rp.events, 1),
            "fanout": rp.changed_rows / max(rp.events, 1),
        }


WORKLOADS = {w.name: w for w in (Batch, CdcSync)}

"""The benchmark's two workloads and their output checks.

Both drive the package only through its public functions.  A round is
one pass of a workload's operations, issued by one client in a closed
loop: each call starts when the previous one has returned.  Every
operation is timed on its own; its output is checked after its clock
has stopped, so checking costs nothing in the timed figures.

* ``reference_flow`` -- the reference's own flow: XML ->
  ``run_pipeline`` (parquet + JSON sinks) -> ``write_mongodb_wire``
  into the fake mongod -> the ``mongo_audit`` query set and the
  structure profile over what was just written.
* ``cow_lifecycle`` -- ``CowTable`` over the staged documents: create,
  merge, delete, compact, read_changes, vacuum, read, read_point, and
  a merge on a second table with the change feed off.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys
import time
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from data_wrangling_osm_xml_with_python_into_mongodb_spark import pipeline as pipeline_mod
from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators import audits, profile
from data_wrangling_osm_xml_with_python_into_mongodb_spark.schema import DOCUMENT_SCHEMA
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import sinks
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import CowTable
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.mongo_wire import MongoWireClient

from gen import Ledger, write_osm
from spans import ProcessCpu, Tracer, cpu_total

# Elements in the generated extract: 12,000 elements make a 2.4 MB file
# (~1/32 of the reference's 385,777).  Wall time is set by Spark's
# per-job floor up to ~4 MB, while the fake mongod's load time grows
# with the document count; this size keeps one reference round near
# 16 s on 4 cores, so each run stays inside its time budget.
N_ELEMENTS = 12_000


@dataclass
class Op:
    name: str
    wall: float
    cpu: float
    ok: bool


@dataclass
class Round:
    traced: bool
    ops: list[Op] = field(default_factory=list)
    gc_s: float = 0.0
    # Traced rounds only: their spans, the tracer's own time, the spans
    # aggregated by name, and workload-specific per-layer values.
    spans: list = field(default_factory=list)
    bookkeeping_s: float = 0.0
    agg: dict = field(default_factory=dict)
    extras: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)

    @property
    def cpu(self) -> float:
        return sum(o.cpu for o in self.ops)


class Context:
    """What a workload needs from the runner: the session, a private
    work directory inside the checkout, the seed and the instruments."""

    def __init__(self, spark, root: str, work: str, seed: int, cpu: ProcessCpu,
                 tracer: Tracer) -> None:
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.cpu = cpu
        self.tracer = tracer
        self.failures: list[str] = []
        self.round: Round | None = None

    def op(self, name: str, fn, check=None):
        """Time one call into the package, then check its output.  An
        exception or a failed check counts the op as failed."""
        before = cpu_total(self.cpu.sample())
        t0 = time.perf_counter()
        span = self.tracer.begin(name)
        try:
            out, ok = fn(), True
        except Exception as e:  # a failing op is a result, not a crash
            out, ok = None, False
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
        finally:
            self.tracer.end(span)
        wall = time.perf_counter() - t0
        cpu = cpu_total(self.cpu.sample()) - before
        if ok and check is not None:
            problem = check(out)
            if problem:
                ok = False
                self.failures.append(f"{name}: {problem}"[:500])
        self.round.ops.append(Op(name, wall, cpu, ok))
        return out

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3


def _differs(name: str, got, want) -> str | None:
    if got == want:
        return None
    return f"{name} mismatch: got {str(got)[:200]} want {str(want)[:200]}"


def _plan_s(df) -> float:
    """Catalyst time (analysis, optimization, planning) recorded by the
    frame's QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases().values().iterator()
    total = 0
    while phases.hasNext():
        total += phases.next().durationMs()
    return total / 1e3


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


# -- reference flow ----------------------------------------------------


def _queries(docs, refs, raw):
    """The reference's query set (mongo_audit.py + the structure
    profile): name -> zero-argument function that builds the query's frame."""
    return {
        "audits.count_unique_users": lambda: audits.count_unique_users(docs),
        "audits.count_docs_by": lambda: audits.count_docs_by(docs, "created.uid", "node"),
        "audits.check_doc_counts_by": lambda: audits.check_doc_counts_by(docs, "addr.postcode"),
        "audits.audit_referenced_types": lambda: audits.audit_referenced_types(docs),
        "audits.find_mismatched_members": lambda: audits.find_mismatched_members(docs),
        "audits.fix_mismatched_members": lambda: audits.fix_mismatched_members(docs).groupBy().count(),
        "audits.update_states_report": lambda: audits.update_states_report(docs),
        "audits.get_most_referenced": lambda: audits.get_most_referenced(docs, refs),
        "profile.profile_elements": lambda: profile.profile_elements(raw),
        "profile.profile_tags": lambda: profile.profile_tags(raw),
        "profile.summary_stats": lambda: profile.summary_stats(profile.profile_tags(raw)),
    }


QUERY_NAMES = list(_queries(None, None, None))


def _normalize(name: str, rows):
    """Query result -> a value comparable with the expectation."""
    if name in ("audits.count_unique_users", "audits.fix_mismatched_members"):
        return rows[0][0]
    if name == "audits.count_docs_by":
        return {r["uid"]: r["count"] for r in rows}
    if name == "audits.check_doc_counts_by":
        return sorted((r["doc_type"], r["postcode"], r["count"]) for r in rows)
    if name == "audits.audit_referenced_types":
        return [list(r["type"]) for r in rows]
    if name == "audits.find_mismatched_members":
        return {(r["rel_id"], r["ref"], r["claimed_type"], r["actual_type"]) for r in rows}
    if name == "audits.update_states_report":
        return tuple(rows[0])
    if name == "audits.get_most_referenced":
        return [(r["_id"], r["doc_type"], r["refer_count"]) for r in rows]
    if name == "profile.profile_elements":
        return {r["doc_type"]: (r["n_elements"], r["n_tags"], r["n_nds"], r["n_members"]) for r in rows}
    if name == "profile.profile_tags":
        return {r["k"]: (r["tag_use_count"], r["uniq_count"]) for r in rows}
    if name == "profile.summary_stats":
        return (rows[0]["n_keys"], rows[0]["min_use"], rows[0]["max_use"])
    raise KeyError(name)


def _expected_from_ledger(led: Ledger) -> dict:
    kinds = ("node", "way", "relation")
    uses = led.key_uses
    return {
        "audits.count_unique_users": len(led.valid_uids),
        "audits.count_docs_by": dict(led.node_uids),
        "audits.audit_referenced_types": [["node"]],
        "audits.find_mismatched_members": set(led.mismatches),
        "audits.fix_mismatched_members": sum(led.valid_by_type.values()),
        "profile.profile_elements": {
            k: (led.by_type[k], led.raw_tags[k], led.raw_nds[k], led.raw_members[k])
            for k in kinds
        },
        "profile.profile_tags": {k: (n, len(led.key_values[k])) for k, n in uses.items()},
        "profile.summary_stats": (len(uses), min(uses.values()), max(uses.values())),
    }


def _expected_from_duckdb(out_dir: str) -> dict:
    """The queries whose answer depends on the cleaning rules, answered
    by DuckDB over the same parquet the program wrote."""
    import duckdb

    docs = f"read_parquet('{out_dir}/documents.parquet/*/*.parquet', hive_partitioning = 1)"
    refs = f"read_parquet('{out_dir}/ref_docs.parquet/*.parquet')"
    con = duckdb.connect()
    try:
        doc_counts = con.execute(
            f"SELECT doc_type, addr.postcode, count(*) FROM {docs} "
            "WHERE addr.postcode IS NOT NULL GROUP BY ALL"
        ).fetchall()
        report = con.execute(
            f"""SELECT
                  sum((addr IS NOT NULL AND addr.state IS NOT NULL)::BIGINT),
                  sum((addr IS NOT NULL AND addr.postcode IS NOT NULL)::BIGINT),
                  sum((addr IS NOT NULL AND addr.postcode IS NOT NULL
                       AND NOT coalesce(addr.state = 'WA', false))::BIGINT),
                  sum((addr IS NOT NULL AND (addr.postcode IS NOT NULL
                       OR addr.state IS NOT NULL))::BIGINT)
                FROM {docs}"""
        ).fetchone()
        top = con.execute(
            f"""WITH top AS (SELECT _id, len(refers) AS c FROM {refs}
                             ORDER BY c DESC, _id ASC LIMIT 3)
                SELECT d._id, d.doc_type, top.c FROM top JOIN {docs} d USING (_id)
                ORDER BY top.c DESC, d._id ASC"""
        ).fetchall()
    finally:
        con.close()
    return {
        "audits.check_doc_counts_by": sorted(tuple(r) for r in doc_counts),
        "audits.update_states_report": tuple(int(x or 0) for x in report),
        "audits.get_most_referenced": [tuple(r) for r in top],
    }


class ReferenceFlow:
    name = "reference_flow"
    min_rounds = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.xml = os.path.join(ctx.work, "extract.osm")
        self.ledger = write_osm(self.xml, N_ELEMENTS, ctx.seed)
        self.input_bytes = self.ledger.bytes
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(ctx.root, "tools", "fake_mongod.py"), "0"],
            stdout=subprocess.PIPE, text=True, cwd=ctx.root,
        )
        ctx.cpu.exclude.add(self.server.pid)
        line = self.server.stdout.readline()
        if "listening" not in line:
            self.close()
            raise RuntimeError(f"fake_mongod did not start: {line!r}")
        self.port = int(line.rsplit(":", 1)[1])
        rng = random.Random(ctx.seed)
        self.sample_ids = rng.sample(self.ledger.valid_ids, 3)
        self.expected = _expected_from_ledger(self.ledger)
        self.n_round = 0

    def close(self) -> None:
        self.server.terminate()
        try:
            self.server.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.server.kill()
            self.server.wait()

    def _check_pipeline(self, res) -> str | None:
        led = self.ledger
        c = res.counts
        if c["raw_elements"] != led.elements:
            return f"raw_elements {c['raw_elements']} != generated {led.elements}"
        if c["documents"] + c["quarantined"] != led.elements:
            return f"documents+quarantine {c['documents'] + c['quarantined']} != {led.elements}"
        if c["quarantined"] != led.quarantined:
            return f"quarantined {c['quarantined']} != {led.quarantined}"
        by_type = {r["doc_type"]: r["count"] for r in res.documents.groupBy("doc_type").count().collect()}
        problem = _differs("documents per doc_type", by_type, dict(led.valid_by_type))
        if problem:
            return problem
        json_dir = os.path.join(self.out, "documents.json")
        lines = 0
        for f in os.listdir(json_dir):
            if f.startswith("part-"):
                with open(os.path.join(json_dir, f), "rb") as fh:
                    lines += sum(1 for _ in fh)
        return _differs("JSON lines", lines, c["documents"])

    def _check_load(self, n: int) -> str | None:
        want = sum(self.ledger.valid_by_type.values())
        if n != want:
            return f"server count {n} != documents {want}"
        with MongoWireClient("127.0.0.1", self.port) as client:
            for _id in self.sample_ids:
                got = client.find_all("osm", "docs", {"_id": _id})
                row = self.docs.filter(F.col("_id") == _id).collect()
                if len(got) != 1 or len(row) != 1:
                    return f"_id {_id}: {len(got)} server docs, {len(row)} parquet rows"
                d, r = got[0], row[0]
                if (d["doc_type"], d["created"]["uid"], d.get("pos")) != (
                    r["doc_type"], r["created"]["uid"], list(r["pos"]) if r["pos"] else None
                ):
                    return f"_id {_id} did not round-trip: {str(d)[:200]}"
        return None

    def _run_pipeline(self):
        """``run_pipeline`` itself.  Traced, the names it looks up are
        wrapped for the call, so each stage gets a span of its own."""
        ctx = self.ctx
        call = lambda: pipeline_mod.run_pipeline(  # noqa: E731
            ctx.spark, self.xml, self.out, write_json_sink=True
        )
        tr = ctx.tracer
        if not tr.enabled:
            return call()
        real = {n: getattr(pipeline_mod, n) for n in ("materialize_raw", "write_parquet", "write_json")}
        sc = ctx.spark.sparkContext
        self.parse_counters = {"vector_bytes": sc.accumulator(0), "expat_bytes": sc.accumulator(0)}
        counts_span = []

        def materialize_raw(*a, **kw):
            with tr.span("osm_xml.materialize_raw"):
                return real["materialize_raw"](*a, counters=self.parse_counters, **kw)

        def write_parquet(df, path, *a, **kw):
            sink = os.path.basename(path).split(".")[0]
            with tr.span(f"sinks.write_parquet.{sink}"):
                real["write_parquet"](df, path, *a, **kw)
            if sink == "ref_docs":  # what run_pipeline does next is its counts
                counts_span.append(tr.begin("pipeline.counts"))

        def write_json(df, path, *a, **kw):
            with tr.span("sinks.write_json.documents"):
                real["write_json"](df, path, *a, **kw)

        wrappers = {"materialize_raw": materialize_raw, "write_parquet": write_parquet,
                    "write_json": write_json}
        for n, w in wrappers.items():
            setattr(pipeline_mod, n, w)
        try:
            return call()
        finally:
            for n, f in real.items():
                setattr(pipeline_mod, n, f)
            for s in counts_span:
                tr.end(s)

    def _pipeline_and_load(self):
        ctx = self.ctx
        self.n_round += 1
        self.out = os.path.join(ctx.work, f"flow_{self.n_round}")
        res = ctx.op("pipeline.run_pipeline", self._run_pipeline, self._check_pipeline)
        if res is None:
            return None
        self.docs = res.documents
        if self.n_round == 1:
            self.expected.update(_expected_from_duckdb(self.out))
        ctx.op(
            "sinks.write_mongodb_wire",
            lambda: sinks.write_mongodb_wire(res.documents, "127.0.0.1", self.port, "osm", "docs"),
            self._check_load,
        )
        return res

    def warm_up(self) -> None:
        """Set-up's pass.  Cold, the pipeline takes twice as long as warm
        and the load 1.5 times.  The queries lose only ~1 s of a ~20 s
        round cold, less than warming them would add to set-up, so they
        are left out."""
        self._pipeline_and_load()

    def round(self) -> None:
        ctx = self.ctx
        res = self._pipeline_and_load()
        if res is None:
            return
        raw = ctx.spark.read.parquet(os.path.join(self.out, "bronze"))
        self.frames = {}
        for name, build in _queries(res.documents, res.ref_docs, raw).items():
            def run(name=name, build=build):
                df = self.frames[name] = build()
                return df.collect()

            ctx.op(
                name, run,
                lambda rows, name=name: _differs(name, _normalize(name, rows), self.expected.get(name)),
            )

    def layer_extras(self, r: Round, agg: dict) -> dict:
        tr = self.ctx.tracer
        mat = next(s for s in r.spans if s.name == "osm_xml.materialize_raw")
        shuffled = [st for st in tr.counters.stages(tr.group(mat))[1] if st.shuffleWriteBytes()]
        vec = self.parse_counters["vector_bytes"].value
        expat = self.parse_counters["expat_bytes"].value
        bronze_read = sum(
            agg[n]["input_bytes"]
            for n in ("sinks.write_parquet.documents", "sinks.write_parquet.quarantine",
                      "sinks.write_json.documents")
        )
        written = sum(
            a["output_bytes"] for n, a in agg.items()
            if n.startswith(("osm_xml.", "sinks.write_parquet.", "sinks.write_json."))
        )
        load = agg["sinks.write_mongodb_wire"]
        queries = [agg[n] for n in QUERY_NAMES]
        query_s = sum(q["wall_s"] for q in queries)
        return {
            # The stage that parses is the last one feeding the bucket shuffle.
            "osm_xml.parse_tasks": shuffled[-1].numTasks() if shuffled else 0,
            "osm_xml.vector_fraction": vec / max(vec + expat, 1),
            "shape.bronze_read_ratio": bronze_read / _dir_bytes(os.path.join(self.out, "bronze")),
            "pipeline.mb_per_s": self.input_bytes / 2**20 / agg["pipeline.run_pipeline"]["wall_s"],
            "pipeline.bytes_written_per_input_byte": written / self.input_bytes,
            "mongo_wire.load_docs_per_s": sum(self.ledger.valid_by_type.values()) / load["wall_s"],
            "mongo_wire.server_cpu_frac": load["other_cpu_s"] / r.cpu,
            "audits.queries_per_s": len(queries) / query_s,
            "audits.jobs_per_query": sum(q["jobs"] for q in queries) / len(queries),
            "audits.input_mb_per_query": sum(q["input_bytes"] for q in queries) / 2**20 / len(queries),
            "audits.plan_frac": sum(_plan_s(df) for df in self.frames.values()) / query_s,
        }

    def end_round(self) -> None:
        if self.n_round > 1:
            shutil.rmtree(os.path.join(self.ctx.work, f"flow_{self.n_round - 1}"), ignore_errors=True)


# -- CowTable lifecycle ------------------------------------------------


def _documents(xml_path: str) -> list[dict]:
    """The extract's valid elements as ``DOCUMENT_SCHEMA`` rows: the
    structural fields, ``created``, ``addr`` from the ``addr:*`` tags and
    every other tag in the raw ``tags`` map.

    Building them here, not with ``run_pipeline``, keeps the XML and
    shape layers out of this workload: staging with a cold pipeline pass
    took 34 s of a 75 s run on 4 cores."""
    rows = []
    for el in ET.parse(xml_path).getroot():
        a = el.attrib
        if el.tag == "node" and "lat" not in a:  # quarantined by the pipeline
            continue
        tags = {t.get("k"): t.get("v") for t in el.iter("tag")}
        addr = {k[len("addr:"):]: tags.pop(k) for k in list(tags) if k.startswith("addr:")}
        rows.append({
            "_id": a["id"],
            "doc_type": el.tag,
            "created": {k: a[k] for k in ("version", "changeset", "timestamp", "user", "uid")},
            "pos": [float(a["lat"]), float(a["lon"])] if el.tag == "node" else None,
            "node_refs": [n.get("ref") for n in el.iter("nd")] or None,
            "members": [dict(m.attrib) for m in el.iter("member")] or None,
            "addr": addr or None,
            "tags": tags or None,
        })
    return rows


class CowLifecycle:
    name = "cow_lifecycle"
    # One ~8 s round is short enough for a burst of load on a shared
    # machine to move it by 20%; two halve that exposure.
    min_rounds = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        spark = ctx.spark
        xml = os.path.join(ctx.work, "extract.osm")
        led = write_osm(xml, N_ELEMENTS, ctx.seed)
        stage = os.path.join(ctx.work, "documents.parquet")
        spark.createDataFrame(_documents(xml), DOCUMENT_SCHEMA).write.parquet(stage)
        self.docs = spark.read.parquet(stage)
        self.input_bytes = _dir_bytes(stage)
        # Plain-Python model of the table: _id -> addr.state.
        self.base = {
            r["_id"]: r["state"]
            for r in self.docs.select("_id", F.col("addr.state").alias("state")).collect()
        }
        if len(self.base) != sum(led.valid_by_type.values()):
            raise RuntimeError("staged documents do not match the generated extract")
        rng = random.Random(ctx.seed)
        ids = sorted(self.base)
        postcode = set(led.postcode_ids)
        plain_nodes = [i for i in ids if i.startswith("1") and i not in postcode]
        ways = [i for i in ids if i.startswith("2")]
        self.merge_deletes = sorted(rng.sample(plain_nodes, len(plain_nodes) // 50))
        self.inserted = sorted(rng.sample(ways, max(1, len(ways) // 10)))
        left = sorted(set(plain_nodes) - set(self.merge_deletes))
        self.dv_deletes = sorted(rng.sample(left, 25))
        self.probes = sorted(rng.sample(ids, 10)) + self.merge_deletes[:3]
        upd = audits.update_states(self.docs.filter(F.col("addr.postcode").isNotNull()))
        ins = self.docs.filter(F.col("_id").isin(self.inserted)).withColumn(
            "_id", F.concat(F.lit("9"), F.col("_id"))
        )
        self.source = upd.unionByName(ins)
        self.deletes = spark.createDataFrame([(i,) for i in self.merge_deletes], "_id string")
        self.updated = sorted(postcode & set(self.base))
        # The model of each table after its mutations.  The feed-off
        # table only takes the upsert; the feed table also loses the
        # merge's and the delete's keys.
        upserted = dict(self.base)
        upserted.update({i: "WA" for i in self.updated})
        upserted.update({"9" + i: self.base[i] for i in self.inserted})
        self.model_feed_off = upserted
        gone = set(self.merge_deletes) | set(self.dv_deletes)
        self.model = {k: v for k, v in upserted.items() if k not in gone}
        self.changes = {
            (1, "update_preimage"): len(self.updated),
            (1, "update_postimage"): len(self.updated),
            (1, "insert"): len(self.inserted),
            (1, "delete"): len(self.merge_deletes),
            (2, "delete"): len(self.dv_deletes),
        }
        self.n_round = 0
        self.merge_doc: dict = {}

    def close(self) -> None:
        pass

    def _check_rows(self, rows, model) -> str | None:
        got = {r["_id"]: r["state"] for r in rows}
        if got == model:
            return None
        missing = sorted(set(model) - set(got))[:5]
        extra = sorted(set(got) - set(model))[:5]
        wrong = sorted(k for k in set(got) & set(model) if got[k] != model[k])[:5]
        return f"read() differs from model: missing {missing} extra {extra} wrong {wrong}"

    def warm_up(self) -> None:
        self.round()

    def round(self) -> None:
        ctx = self.ctx
        self.n_round += 1
        base = os.path.join(ctx.work, f"cow_{self.n_round}")
        spark = ctx.spark
        t = ctx.op(
            "cow_table.create",
            lambda: CowTable.create(spark, f"{base}/feed", self.docs, bloom_col="_id", change_feed=True),
        )
        if t is None:
            return
        self.merge_doc = ctx.op(
            "cow_table.merge", lambda: t.merge(self.source, "_id", deletes=self.deletes)
        ) or {}
        ctx.op("cow_table.delete", lambda: t.delete("_id", values=self.dv_deletes))
        ctx.op("cow_table.compact", lambda: t.compact(target_rows=1_000_000))
        ctx.op(
            "cow_table.read_changes",
            lambda: t.read_changes(1).groupBy("_commit_version", "_change_type").count().collect(),
            lambda rows: _differs(
                "read_changes counts",
                {(int(r[0]), r[1]): r[2] for r in rows}, self.changes,
            ),
        )
        ctx.op("cow_table.vacuum", lambda: t.vacuum(retain_last=1, orphan_grace_s=0.0))
        ctx.op(
            "cow_table.read",
            lambda: t.read().select("_id", F.col("addr.state").alias("state")).collect(),
            lambda rows: self._check_rows(rows, self.model),
        )
        ctx.op(
            "cow_table.read_point",
            lambda: t.read_point("_id", self.probes).select("_id").collect(),
            lambda rows: _differs(
                "read_point ids", sorted(r[0] for r in rows),
                sorted(i for i in self.probes if i in self.model),
            ),
        )
        t2 = ctx.op(
            "cow_table.create_feed_off",
            lambda: CowTable.create(spark, f"{base}/plain", self.docs, bloom_col="_id"),
        )
        if t2 is None:
            return
        ctx.op(
            "cow_table.merge_feed_off",
            lambda: t2.merge(self.source, "_id"),
            lambda _doc: self._check_rows(
                t2.read().select("_id", F.col("addr.state").alias("state")).collect(),
                self.model_feed_off,
            ),
        )

    def layer_extras(self, r: Round, agg: dict) -> dict:
        written = sum(a["output_bytes"] for n, a in agg.items() if n.startswith("cow_table."))
        return {
            "cow_table.merge.files_probed": self.merge_doc.get("files_probed", 0),
            "cow_table.merge.files_rewritten": self.merge_doc.get("files_rewritten", 0),
            "cow_table.bytes_written_per_input_byte": written / self.input_bytes,
        }

    def end_round(self) -> None:
        shutil.rmtree(os.path.join(self.ctx.work, f"cow_{self.n_round}"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (ReferenceFlow, CowLifecycle)}


def code_rev(root: str) -> str:
    """Content hash of the package sources (the checkout is not a git
    repository, so this stands in for the commit id)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "data_wrangling_osm_xml_with_python_into_mongodb_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


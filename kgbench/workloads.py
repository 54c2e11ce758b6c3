"""The benchmark's workloads: inputs, the timed job, its output check, and
the traced per-layer run. See WORKLOADS.md for why each one exists.

Each workload calls only the engine's public pipeline functions and sees
its inputs only through ``read_source`` of a generated parquet table.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import replace
from statistics import median

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from fcrepo3_rdf_extractor_spark import rdfxml
from fcrepo3_rdf_extractor_spark.extract import extract_object
from fcrepo3_rdf_extractor_spark.foxml import FoxmlError, parse_foxml
from fcrepo3_rdf_extractor_spark.operators.dedup import TRIPLE_KEY, dedup_exact
from fcrepo3_rdf_extractor_spark.operators.extractor import extract_triples, triples_only
from fcrepo3_rdf_extractor_spark.operators.filters import skip_empty_literals, with_graph
from fcrepo3_rdf_extractor_spark.plans.checkpoint import (
    MANIFEST_SCHEMA,
    manifest_path,
    with_chunk_id,
)
from fcrepo3_rdf_extractor_spark.plans.code_pipeline import (
    CodeKgConfig,
    code_kg_from_state,
    code_kg_plan,
    code_kg_state,
)
from fcrepo3_rdf_extractor_spark.plans.pipeline import (
    ExtractConfig,
    dedup_mixed,
    extract_incremental,
    extract_plan,
    materialize_graph,
    run_resumable,
)
from fcrepo3_rdf_extractor_spark.sources.nquads import write_nquads
from fcrepo3_rdf_extractor_spark.sources.source_table import read_source

import expect
import gen

#: corpus sizes, chosen so that one benchmark run (set-up, two timed jobs and
#: their checks) stays near 55 s on a 4-core host
FOXML_OBJECTS = 2000
CODE_FILES = 4000
#: chunks of the corpus committed in the checkpoint the traced resume starts from
RESUME_DONE_CHUNKS = 32
#: documents timed by the driver-side parse measurement
PARSE_SAMPLE = 300

FOXML_CONFIG = ExtractConfig(skip_empty=True, dedup=True)
CODE_CONFIG = CodeKgConfig(calls=True, vendored=True, dedup=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's markers and checksums
    (``_*``, ``.*``) are not data."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _observed(df, name: str, **aggs):
    obs = Observation(name)
    cols = [F.count(F.lit(1)).alias("rows")]
    cols += [v.alias(k) for k, v in aggs.items()]
    return df.observe(obs, *cols), obs


class Workload:
    name: str
    #: layers in pipeline order, for WORKLOADS.md and the detail line
    layers: tuple[str, ...]

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.planted: dict = {}
        self.input_rows = 0
        self.input_bytes = 0

    def generate(self) -> None:
        raise NotImplementedError

    def expectation(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed: reset state a run must not inherit from the last one."""
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark) -> None:
        """The timed job."""
        raise NotImplementedError

    def check(self, spark) -> tuple[bool, dict]:
        """Untimed output check; detail must hold ``triple_rows`` and
        ``table_bytes``."""
        raise NotImplementedError

    def trace(self, spark, tracer) -> dict:
        raise NotImplementedError


class FoxmlBulk(Workload):
    """One-shot FOXML extraction, the paper's product:
    read_source -> extract_plan(skip_empty, dedup) -> materialize_graph ->
    read back -> write_nquads (the path of ``jobs/extract.py``)."""

    name = "foxml_bulk"
    layers = ("session", "source_table", "extractor", "extract", "foxml", "rdfxml",
              "filters", "dedup", "materialize_graph", "nquads", "checkpoint",
              "extract_incremental")

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.nq = os.path.join(work, "nquads")

    def generate(self) -> None:
        self.corpus = gen.foxml_corpus(self.seed, FOXML_OBJECTS)
        self.input_bytes = gen.write_table(self.corpus.rows, self.src)
        self.input_rows = len(self.corpus.rows)
        self.planted = dict(self.corpus.planted)

    def expectation(self) -> None:
        self._cache: dict = {}
        self.want = expect.foxml_expectation(self.corpus.rows, cache=self._cache)
        if self.want.error_rows != self.corpus.malformed_rows:
            raise RuntimeError(
                f"generator planted {self.corpus.malformed_rows} malformed rows but "
                f"extract_object reports {self.want.error_rows} error rows")

    def prepare(self, spark) -> None:
        super().prepare(spark)
        shutil.rmtree(self.nq, ignore_errors=True)

    def run(self, spark) -> None:
        source = read_source(spark, self.src)
        materialize_graph(extract_plan(source, FOXML_CONFIG), self.out)
        stored = spark.read.parquet(self.out)
        write_nquads(triples_only(stored).filter(F.col("subj").isNotNull()), self.nq)

    def check(self, spark) -> tuple[bool, dict]:
        ok, detail = expect.check_foxml(self.out, self.want)
        lines = 0
        for name in os.listdir(self.nq):
            if not name.startswith(("_", ".")):
                with open(os.path.join(self.nq, name), "rb") as fh:
                    lines += sum(1 for line in fh if line.strip())
        detail["nquads_lines"] = lines
        detail["table_bytes"] = dir_files(self.out)[1]
        return ok and lines == detail["triple_rows"], detail

    # --- traced run --------------------------------------------------------

    def trace(self, spark, tracer) -> dict:
        m: dict = {}
        self.prepare(spark)
        source = read_source(spark, self.src)
        src_o, src_obs = _observed(source, "source")
        s_src = tracer.span("source_table", lambda: noop(src_o), observe=src_obs)

        ext = extract_triples(source)
        ext_o, ext_obs = _observed(ext, "extractor", errors=F.count(F.col("error_stage")))
        s_ext = tracer.span("extractor", lambda: noop(ext_o), "source_table", ext_obs)

        filt = skip_empty_literals(with_graph(ext, FOXML_CONFIG.graph))
        filt_o, filt_obs = _observed(filt, "filters")
        s_filt = tracer.span("filters", lambda: noop(filt_o), "extractor", filt_obs)

        ded = dedup_mixed(filt)
        ded_o, ded_obs = _observed(ded, "dedup")
        s_ded = tracer.span("dedup", lambda: noop(ded_o), "filters", ded_obs)

        s_mat = tracer.span("materialize_graph", lambda: materialize_graph(ded, self.out),
                            "dedup")

        def nquads() -> None:
            stored = spark.read.parquet(self.out)
            write_nquads(triples_only(stored).filter(F.col("subj").isNotNull()), self.nq)
        s_nq = tracer.span("nquads", lambda: nquads())
        ok, detail = self.check(spark)

        rows_ext, rows_filt = s_ext.rows["rows"], s_filt.rows["rows"]
        rows_ded = s_ded.rows["rows"]
        m["source_table.self_s"] = s_src.seconds
        m["source_table.bytes_read"] = s_src.stage.get("input_bytes", 0.0)
        m["extractor.self_s"] = s_ext.seconds - s_src.seconds
        m["extractor.python_worker_s"] = s_ext.op("MapInPandas", "time to run Python workers")
        m["extractor.bytes_to_python"] = s_ext.op("MapInPandas", "data sent to Python workers")
        m["extractor.bytes_from_python"] = s_ext.op(
            "MapInPandas", "data returned from Python workers")
        m["extractor.rows_out"] = rows_ext
        m["extractor.error_rows"] = s_ext.rows["errors"]
        m["filters.self_s"] = s_filt.seconds - s_ext.seconds
        m["filters.drop_ratio"] = 1 - rows_filt / rows_ext
        m["dedup.self_s"] = s_ded.seconds - s_filt.seconds
        m["dedup.rows_in"] = rows_filt
        m["dedup.rows_out"] = rows_ded
        m["dedup.useful_ratio"] = rows_ded / rows_filt
        m["dedup.shuffle_bytes"] = s_ded.stage["shuffle_write_bytes"]
        m["dedup.sort_s"] = s_ded.op("Sort", "sort time")
        m["dedup.spill_bytes"] = s_ded.stage["spill_bytes"] + s_ded.stage["spill_mem_bytes"]
        m["dedup.peak_mem_bytes"] = s_ded.op("Sort", "peak memory")
        files, size = dir_files(self.out)
        m["materialize_graph.self_s"] = s_mat.seconds - s_ded.seconds
        m["materialize_graph.bytes_written"] = size
        m["materialize_graph.files"] = files
        m["nquads.self_s"] = s_nq.seconds
        m["nquads.bytes_written"] = dir_files(self.nq)[1]
        m.update(self._parse_timings())
        traced_total = s_nq.end - s_src.start
        checks = [("bulk", ok, detail)]
        checks.append(self._trace_resume(spark, tracer, m))
        checks.append(self._trace_refresh(spark, tracer, m))
        return {"metrics": m, "traced_total_s": traced_total, "checks": checks,
                "self_s": [m["source_table.self_s"], m["extractor.self_s"],
                           m["filters.self_s"], m["dedup.self_s"],
                           m["materialize_graph.self_s"], m["nquads.self_s"]]}

    def _parse_timings(self) -> dict:
        """Driver-side pure-Python parse cost over a fixed sample: the
        first ``PARSE_SAMPLE`` generated rows. Median of three passes."""
        docs = [r[4] for r in self.corpus.rows[:PARSE_SAMPLE]]
        rels = []
        for d in docs:
            try:
                obj = parse_foxml(d)
            except FoxmlError:
                continue
            for ds in obj["datastreams"]:
                if ds["id"] in ("RELS-EXT", "RELS-INT"):
                    rels.append((ds["versions"][0]["inline_xml"], f"{obj['pid']}|{ds['id']}"))

        def timed(fn) -> float:
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                reps.append(time.perf_counter() - t0)
            return median(reps) / len(docs) * 1e6

        def parse_all() -> None:
            for d in docs:
                try:
                    parse_foxml(d)
                except FoxmlError:
                    pass

        results = [extract_object(d) for d in docs]
        return {
            "extract.us_per_doc": timed(lambda: [extract_object(d) for d in docs]),
            "foxml.us_per_doc": timed(parse_all),
            "rdfxml.us_per_doc": timed(
                lambda: [rdfxml.parse_rdfxml(el, scope=s) for el, s in rels]),
            "extract.triples_per_doc": sum(len(t) for t, _ in results) / len(docs),
            "extract.error_ratio": sum(1 for _, e in results if e) / len(docs),
        }

    def _trace_resume(self, spark, tracer, m: dict) -> tuple:
        """``run_resumable`` from a checkpoint whose chunks 0-31 (of 64) are
        committed. The checkpoint is built untimed: a resumable run over
        the rows of those chunks, with the manifest rows of the (empty)
        other chunks removed."""
        out = os.path.join(self.work, "resume_out")
        ckpt = os.path.join(self.work, "resume_ckpt")
        cfg = FOXML_CONFIG
        source = read_source(spark, self.src)
        half = with_chunk_id(source, cfg.num_chunks).filter(
            F.col("chunk_id") < RESUME_DONE_CHUNKS).drop("chunk_id")
        run_resumable(half, out, ckpt, replace(cfg, chunks_per_wave=cfg.num_chunks))
        manifest = spark.read.parquet(manifest_path(ckpt)).filter(
            F.col("chunk_id") < RESUME_DONE_CHUNKS).collect()
        shutil.rmtree(manifest_path(ckpt))
        spark.createDataFrame(manifest, MANIFEST_SCHEMA).write.parquet(manifest_path(ckpt))
        stats: dict = {}
        s = tracer.span("checkpoint",
                        lambda: stats.update(run_resumable(source, out, ckpt, cfg)))
        m["checkpoint.waves"] = stats["waves"]
        m["checkpoint.chunks_skipped"] = stats["chunks_done_before"]
        m["checkpoint.wave_s"] = sum(e["seconds"] for e in s.executions if e["python"])
        m["checkpoint.manifest_s"] = sum(e["seconds"] for e in s.executions
                                         if not e["python"])
        # the resumable table deduplicates per wave, so a triple may repeat
        # across chunks but not within one
        ok, detail = expect.check_foxml(out, self.want, dedup_scope=("chunk_id",))
        detail["stats"] = stats
        return ("resume", ok and stats["chunks_done_before"] == RESUME_DONE_CHUNKS, detail)

    def _trace_refresh(self, spark, tracer, m: dict) -> tuple:
        """``extract_incremental`` against the per-document state of this
        corpus (built untimed), for a snapshot with ~3% changed, ~1% deleted
        and ~1% new objects; then ``materialize_graph(state)`` and the
        export read back through ``dedup_mixed``."""
        snap = gen.foxml_refresh_snapshot(self.seed, self.corpus)
        src2 = os.path.join(self.work, "src_v2")
        prev = os.path.join(self.work, "prev_state")
        state_out = os.path.join(self.work, "refresh_state")
        export = os.path.join(self.work, "refresh_export")
        gen.write_table(snap.rows, src2)
        want = expect.foxml_expectation(snap.rows, cache=self._cache)
        extract_plan(read_source(spark, self.src), replace(FOXML_CONFIG, dedup=False)) \
            .write.parquet(prev)
        previous = spark.read.parquet(prev)
        source2 = read_source(spark, src2)
        plan = extract_incremental(source2, previous, FOXML_CONFIG)
        src_o, src_obs = _observed(source2, "refresh_source")
        s_src = tracer.span("refresh.source_table", lambda: noop(src_o), observe=src_obs)
        chg_o, chg_obs = _observed(plan.changed, "refresh_changed")
        s_id = tracer.span("extract_incremental.identity", lambda: noop(chg_o),
                           "refresh.source_table", chg_obs)
        tracer.span("refresh.materialize_graph",
                    lambda: materialize_graph(plan.state, state_out))
        tracer.span("refresh.dedup", lambda: dedup_mixed(
            spark.read.parquet(state_out).drop("subj_bucket")).write.parquet(export))
        m["extract_incremental.identity_s"] = s_id.seconds - s_src.seconds
        m["extract_incremental.changed_ratio"] = s_id.rows["rows"] / s_src.rows["rows"]
        ok, detail = expect.check_foxml(export, want)
        detail["planted"] = snap.planted
        return ("refresh", ok, detail)


class CodeKgBulk(Workload):
    """Code-KG construction over Python-like files:
    read_source -> code_kg_plan(calls, vendored, dedup=True) ->
    materialize_graph. No Python stage: the Arrow/UDF boundary is bypassed,
    while the dedup and write layers are shared with ``foxml_bulk``."""

    name = "code_kg_bulk"
    layers = ("session", "source_table", "code_kg_state", "code_kg_from_state", "dedup",
              "materialize_graph")

    def generate(self) -> None:
        self.corpus = gen.code_corpus(self.seed, CODE_FILES)
        self.input_bytes = gen.write_table(self.corpus.rows, self.src)
        self.input_rows = len(self.corpus.rows)
        self.planted = dict(self.corpus.planted)

    def expectation(self) -> None:
        pass  # planted counts and sha256 pairs come with the corpus

    def prepare(self, spark) -> None:
        spark.catalog.clearCache()  # code_kg_plan persists its state
        super().prepare(spark)

    def run(self, spark) -> None:
        materialize_graph(code_kg_plan(read_source(spark, self.src), CODE_CONFIG), self.out)

    def check(self, spark) -> tuple[bool, dict]:
        table = pq.read_table(self.out, columns=TRIPLE_KEY)
        found = {v["values"]: v["counts"]
                 for v in pc.value_counts(table.column("pred")).to_pylist()}
        counts = {p: found.get(p, 0) for p in self.corpus.expected}
        sha = table.filter(pc.equal(table.column("pred"), "code:sha256"))
        shas = set(zip(sha.column("subj").to_pylist(), sha.column("obj_value").to_pylist()))
        distinct = table.group_by(TRIPLE_KEY).aggregate([]).num_rows
        ok = (counts == self.corpus.expected and shas == self.corpus.sha_pairs
              and distinct == table.num_rows)
        return ok, {"triple_rows": table.num_rows, "distinct_keys": distinct,
                    "pred_counts": counts, "sha256_match": shas == self.corpus.sha_pairs,
                    "table_bytes": dir_files(self.out)[1]}

    def trace(self, spark, tracer) -> dict:
        m: dict = {}
        self.prepare(spark)
        source = read_source(spark, self.src)
        s_src = tracer.span("source_table", lambda: noop(source))
        state = code_kg_state(source, CODE_CONFIG).persist()
        st_o, st_obs = _observed(state, "code_kg_state")
        s_state = tracer.span("code_kg_state", lambda: noop(st_o), "source_table", st_obs)
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in storage)
        # the plan's own identity table (code_kg_plan builds it the same way)
        ids = state.filter(F.col("pred") == "code:sha256").select(
            "repo", "path", "commit", "content_sha256")
        assembled = code_kg_from_state(state, ids, replace(CODE_CONFIG, dedup=False))
        asm_o, asm_obs = _observed(assembled, "code_kg_from_state")
        s_asm = tracer.span("code_kg_from_state", lambda: noop(asm_o), "code_kg_state",
                            asm_obs)
        ded = dedup_exact(assembled, key=TRIPLE_KEY)
        ded_o, ded_obs = _observed(ded, "dedup")
        s_ded = tracer.span("dedup", lambda: noop(ded_o), "code_kg_from_state", ded_obs)
        s_mat = tracer.span("materialize_graph", lambda: materialize_graph(ded, self.out),
                            "dedup")
        ok, detail = self.check(spark)
        spans = [s_src, s_state, s_asm, s_ded, s_mat]
        m["source_table.self_s"] = s_src.seconds
        m["source_table.bytes_read"] = s_src.stage.get("input_bytes", 0.0)
        m["extractor.python_worker_s"] = sum(
            s.op("MapInPandas", "time to run Python workers") for s in spans)
        m["extractor.bytes_to_python"] = sum(
            s.op("", "data sent to Python workers") for s in spans)
        m["extractor.bytes_from_python"] = sum(
            s.op("", "data returned from Python workers") for s in spans)
        m["code_kg_state.self_s"] = s_state.seconds - s_src.seconds
        m["code_kg_state.rows"] = s_state.rows["rows"]
        m["code_kg_state.cached_bytes"] = cached
        m["code_kg_from_state.self_s"] = s_asm.seconds
        m["code_kg_from_state.shuffle_bytes"] = s_asm.stage["shuffle_write_bytes"]
        m["dedup.self_s"] = s_ded.seconds - s_asm.seconds
        m["dedup.rows_in"] = s_asm.rows["rows"]
        m["dedup.rows_out"] = s_ded.rows["rows"]
        m["dedup.useful_ratio"] = s_ded.rows["rows"] / s_asm.rows["rows"]
        m["dedup.shuffle_bytes"] = (s_ded.stage["shuffle_write_bytes"]
                                    - s_asm.stage["shuffle_write_bytes"])
        m["dedup.sort_s"] = s_ded.op("Sort", "sort time") - s_asm.op("Sort", "sort time")
        m["dedup.spill_bytes"] = (s_ded.stage["spill_bytes"] + s_ded.stage["spill_mem_bytes"]
                                  - s_asm.stage["spill_bytes"] - s_asm.stage["spill_mem_bytes"])
        m["dedup.peak_mem_bytes"] = (s_ded.op("Sort", "peak memory")
                                     - s_asm.op("Sort", "peak memory"))
        files, size = dir_files(self.out)
        m["materialize_graph.self_s"] = s_mat.seconds - s_ded.seconds
        m["materialize_graph.bytes_written"] = size
        m["materialize_graph.files"] = files
        spark.catalog.clearCache()
        return {"metrics": m, "traced_total_s": s_mat.end - s_src.start,
                "checks": [("bulk", ok, detail)],
                "self_s": [m["source_table.self_s"], m["code_kg_state.self_s"],
                           m["code_kg_from_state.self_s"],
                           m["dedup.self_s"], m["materialize_graph.self_s"]]}


WORKLOADS = {w.name: w for w in (FoxmlBulk, CodeKgBulk)}

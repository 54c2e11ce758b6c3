"""Expected outputs and the per-run output check.

FOXML expectations come from the pure-Python ``extract.extract_object``
over the generated rows (no Spark involved), with the pipeline's documented
semantics applied on top: every triple homed in the default graph, empty
literals dropped, triples deduplicated, one error row per (document, stage,
datastream). The Spark output is compared through an order-independent
digest of its triple set: key count, XOR of a 60-bit hash prefix and sum of
a 32-bit one, each over ``sha256`` of the triple's canonical key. Written
tables are read back with pyarrow, not Spark.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq

from fcrepo3_rdf_extractor_spark.extract import extract_object
from fcrepo3_rdf_extractor_spark.vocab import DEFAULT_GRAPH

KEY_COLS = ["graph", "subj", "pred", "obj_value", "obj_is_literal", "obj_datatype", "obj_lang"]
SEP = "\x1f"


@dataclass(frozen=True)
class Digest:
    rows: int
    xor60: int
    sum32: int


def key_string(graph, subj, pred, obj_value, is_literal, datatype, lang) -> str:
    return SEP.join([graph, subj, pred, obj_value, "true" if is_literal else "false",
                     datatype or "", lang or ""])


def digest_keys(keys) -> Digest:
    xor60 = sum32 = n = 0
    for k in keys:
        # the first 96 bits of the hash: a 60-bit prefix, then 32 bits
        h = int.from_bytes(hashlib.sha256(k.encode()).digest()[:12], "big")
        xor60 ^= h >> 36
        sum32 += (h >> 4) & 0xFFFFFFFF
        n += 1
    return Digest(n, xor60, sum32)


@dataclass(frozen=True)
class FoxmlExpectation:
    digest: Digest
    error_rows: int


def foxml_expectation(rows: list[tuple], cache: dict | None = None) -> FoxmlExpectation:
    """Expected triple-set digest and error-row count of
    ``extract_plan(skip_empty=True, dedup=True)`` over ``rows``. ``cache``
    maps content -> (keys, error kinds) and may be shared between corpora."""
    cache = {} if cache is None else cache
    keys: set[str] = set()
    errors: set[tuple] = set()
    for repo, path, commit, _lang, content in rows:
        hit = cache.get(content)
        if hit is None:
            triples, errs = extract_object(content)
            hit = (
                [key_string(DEFAULT_GRAPH, t.subj, t.pred, t.obj_value, t.obj_is_literal,
                            t.obj_datatype, t.obj_lang)
                 for t in triples if not (t.obj_is_literal and t.obj_value == "")],
                sorted({(e.stage, e.ds_id) for e in errs}),
            )
            cache[content] = hit
        keys.update(hit[0])
        errors.update((repo, path, commit, stage, ds) for stage, ds in hit[1])
    return FoxmlExpectation(digest_keys(keys), len(errors))


def key_strings(table) -> list[str]:
    """``key_string`` of every row of a table with the ``KEY_COLS``."""
    return pc.binary_join_element_wise(
        *(table.column(c) for c in KEY_COLS[:4]),
        pc.if_else(table.column("obj_is_literal"), "true", "false"),
        pc.fill_null(table.column("obj_datatype"), ""),
        pc.fill_null(table.column("obj_lang"), ""),
        SEP).to_pylist()


def check_foxml(path: str, want: FoxmlExpectation,
                dedup_scope: tuple[str, ...] = ()) -> tuple[bool, dict]:
    """Compare a written triples+errors table with the expectation:
    triple-set digest, error-row count, and no triple key repeated within
    the dedup scope -- the whole table by default; the resumable table
    deduplicates per wave, so its scope is the chunk. Returns (ok, detail
    with the measured figures)."""
    table = pq.read_table(path, columns=KEY_COLS + ["error_stage", *dedup_scope])
    errors = pc.count(table.column("error_stage")).as_py()
    triples = table.filter(pc.is_null(table.column("error_stage")))
    keys = key_strings(triples)
    scoped = set(zip(keys, *(triples.column(c).to_pylist() for c in dedup_scope)))
    distinct = set(keys)
    got = digest_keys(distinct)
    ok = got == want.digest and errors == want.error_rows and len(scoped) == len(keys)
    return ok, {"triple_rows": len(keys), "distinct_keys": len(distinct),
                "repeated_in_scope": len(keys) - len(scoped),
                "error_rows": errors, "digest_match": got == want.digest}

"""Seeded input generators for the KG-construction benchmark.

Every corpus is a source-contract table ``(repo, path, commit, lang,
content)`` built from ``random.Random`` streams seeded by the workload seed,
so the same seed gives the same rows, and the parquet writer (fixed file
count, row-group size, codec) gives byte-identical files. Generation runs in
the calling process; pyarrow's pool is capped at ``nproc`` threads.

Each generator also returns the *planted* properties (what it put in on
purpose) and their measured shares, which the benchmark records in every
result and checks the program's output against.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape, quoteattr

import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_COLUMNS = ["repo", "path", "commit", "lang", "content"]

#: files per generated table: a fixed count, so the bytes do not depend on
#: the host's core count (Spark packs them into ~nproc scan splits anyway)
N_FILES = 8

_FOXML_NS = "info:fedora/fedora-system:def/foxml#"
_WORDS = (
    "archive specimen survey field note camera trap plate drawer label "
    "river basin ridge coastal survey expedition collector catalog folio "
    "herbarium sheet negative print album letter diary map atlas"
).split()
_LANGS = ["en", "fr", "es", "de"]
_XSD = "http://www.w3.org/2001/XMLSchema#"

#: planted properties of the FOXML corpus: objects repeated with identical
#: content at a second commit, malformed objects
DUP_SHARE = 0.15
MALFORMED_SHARE = 0.01
#: the refresh snapshot: objects edited in place, deleted, added
CHANGED_SHARE = 0.03
DELETED_SHARE = 0.01
NEW_SHARE = 0.01
#: the code corpus: repos, vendored exact copies in another repo, paths at
#: a second commit, and the Zipf exponent of import fan-in
N_REPOS = 40
VENDORED_SHARE = 0.10
TWO_COMMIT_SHARE = 0.10
ZIPF_S = 1.1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def write_table(rows: list[tuple], out_dir: str) -> int:
    """Write ``rows`` as ``N_FILES`` zstd parquet files; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    pa.set_cpu_count(max(1, min(nproc(), pa.cpu_count())))
    schema = pa.schema([(c, pa.string()) for c in SOURCE_COLUMNS])
    total = 0
    per = math.ceil(len(rows) / N_FILES)
    for k in range(N_FILES):
        chunk = rows[k * per:(k + 1) * per]
        cols = list(zip(*chunk)) if chunk else [[] for _ in SOURCE_COLUMNS]
        table = pa.table([pa.array(c, pa.string()) for c in cols], schema=schema)
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path, compression="zstd", row_group_size=2048)
        total += os.path.getsize(path)
    return total


def _ts(rng: random.Random, year0: int = 2010) -> str:
    return "%04d-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
        year0 + rng.randrange(12), 1 + rng.randrange(12), 1 + rng.randrange(28),
        rng.randrange(24), rng.randrange(60), rng.randrange(60), rng.randrange(1000),
    )


def _phrase(rng: random.Random, n: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.1:  # characters the N-Quads and XML escapers must handle
        words.append(rng.choice(['"quoted"', "a & b", "<tag>", "line\nbreak", "tab\tsep"]))
    return " ".join(words)


# --- FOXML -----------------------------------------------------------------


@dataclass
class FoxmlCorpus:
    rows: list[tuple]
    #: rows whose content is malformed (each yields one object error row)
    malformed_rows: int
    planted: dict = field(default_factory=dict)


def _literal_el(tag: str, text: str, attrs: str = "") -> str:
    return f"<{tag}{attrs}>{escape(text)}</{tag}>"


def _dc_xml(rng: random.Random, pid: str, version: int, stats: dict) -> str:
    els = [
        _literal_el("dc:title", f"{_phrase(rng, 3)} v{version}"),
        _literal_el("dc:identifier", pid),
        _literal_el("dc:creator", _phrase(rng, 2)),
    ]
    for tag in ("dc:description", "dc:subject", "dc:coverage"):
        empty = rng.random() < 0.25
        els.append(_literal_el(tag, "" if empty else _phrase(rng, 4)))
        stats["literals"] += 1
        stats["empty_literals"] += empty
    stats["literals"] += 3
    return (
        '<oai_dc:dc xmlns:oai_dc="http://www.openarchives.org/OAI/2.0/oai_dc/"'
        ' xmlns:dc="http://purl.org/dc/elements/1.1/">' + "".join(els) + "</oai_dc:dc>"
    )


_RDF_OPEN = (
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
    ' xmlns:fedora-model="info:fedora/fedora-system:def/model#"'
    ' xmlns:rel="info:fedora/fedora-system:def/relations-external#"'
    ' xmlns:bench="http://example.org/bench#">'
)


def _rels_ext_xml(rng: random.Random, pid: str, stats: dict) -> str:
    props = [
        f'<fedora-model:hasModel rdf:resource="info:fedora/bench:model{rng.randrange(8)}"/>',
        f'<rel:isMemberOfCollection rdf:resource="info:fedora/bench:coll{rng.randrange(200)}"/>',
        _literal_el("bench:caption", _phrase(rng, 3), f' xml:lang="{rng.choice(_LANGS)}"'),
        _literal_el("bench:extent", str(rng.randrange(1, 10**6)),
                    f' rdf:datatype="{_XSD}int"'),
    ]
    stats["literals"] += 2
    if rng.random() < 0.3:
        props.append(_literal_el("bench:remark", ""))
        stats["literals"] += 1
        stats["empty_literals"] += 1
    return (
        _RDF_OPEN + f'<rdf:Description rdf:about="info:fedora/{pid}">'
        + "".join(props) + "</rdf:Description></rdf:RDF>"
    )


def _rels_int_xml(rng: random.Random, pid: str, stats: dict) -> str:
    stats["literals"] += 2
    return (
        _RDF_OPEN + f'<rdf:Description rdf:about="info:fedora/{pid}/OBJ">'
        + _literal_el("bench:width", str(rng.randrange(64, 8192)),
                      f' rdf:datatype="{_XSD}int"')
        + _literal_el("bench:alt", _phrase(rng, 2), f' xml:lang="{rng.choice(_LANGS)}"')
        + "</rdf:Description></rdf:RDF>"
    )


def _inline_ds(ds_id: str, mimetype: str, bodies: list[str], created: list[str]) -> str:
    versions = "".join(
        f'<foxml:datastreamVersion ID="{ds_id}.{k}" LABEL="" CREATED="{c}"'
        f' MIMETYPE="{mimetype}"><foxml:xmlContent>{b}</foxml:xmlContent>'
        "</foxml:datastreamVersion>"
        for k, (b, c) in enumerate(zip(bodies, created))
    )
    return (
        f'<foxml:datastream ID="{ds_id}" STATE="A" CONTROL_GROUP="X"'
        f' VERSIONABLE="true">{versions}</foxml:datastream>'
    )


def _versions(rng: random.Random, stats: dict) -> list[str]:
    """1-3 version CREATED stamps in random document order (the parser
    must pick the newest, not the last)."""
    n = rng.choice((1, 1, 2, 3))
    stats["datastreams"] += 1
    stats["multi_version"] += n > 1
    return [_ts(rng) for _ in range(n)]


def foxml_object(rng: random.Random, pid: str, stats: dict) -> str:
    """One well-formed FOXML 1.1 object: DC and RELS-EXT always, RELS-INT
    on ~30%, a MANAGED OBJ datastream on ~50% (2-4 non-AUDIT datastreams),
    AUDIT always (it must emit nothing), multi-version datastreams."""
    created = _ts(rng, 2005)
    props = [
        ("info:fedora/fedora-system:def/model#state", rng.choice("AAAAID")),
        ("info:fedora/fedora-system:def/model#label", _phrase(rng, 3)),
        ("info:fedora/fedora-system:def/model#ownerId", f"user{rng.randrange(50)}"),
        ("info:fedora/fedora-system:def/model#createdDate", created),
        ("info:fedora/fedora-system:def/view#lastModifiedDate", _ts(rng, 2015)),
    ]
    parts = [
        f'<foxml:digitalObject VERSION="1.1" PID="{pid}" xmlns:foxml="{_FOXML_NS}">'
        "<foxml:objectProperties>"
        + "".join(f"<foxml:property NAME={quoteattr(n)} VALUE={quoteattr(v)}/>"
                  for n, v in props)
        + "</foxml:objectProperties>"
    ]
    stamps = _versions(rng, stats)
    parts.append(_inline_ds("DC", "text/xml",
                            [_dc_xml(rng, pid, k, stats) for k in range(len(stamps))], stamps))
    stamps = _versions(rng, stats)
    parts.append(_inline_ds("RELS-EXT", "application/rdf+xml",
                            [_rels_ext_xml(rng, pid, stats) for _ in stamps], stamps))
    if rng.random() < 0.3:
        stats["rels_int"] += 1
        stamps = _versions(rng, stats)
        parts.append(_inline_ds("RELS-INT", "application/rdf+xml",
                                [_rels_int_xml(rng, pid, stats) for _ in stamps], stamps))
    if rng.random() < 0.5:
        stats["datastreams"] += 1
        parts.append(
            '<foxml:datastream ID="OBJ" STATE="A" CONTROL_GROUP="M" VERSIONABLE="true">'
            f'<foxml:datastreamVersion ID="OBJ.0" LABEL="" CREATED="{_ts(rng)}"'
            f' MIMETYPE="image/jpeg" SIZE="{rng.randrange(10**7)}">'
            f'<foxml:contentLocation TYPE="INTERNAL_ID" REF="{pid}+OBJ+OBJ.0"/>'
            "</foxml:datastreamVersion></foxml:datastream>"
        )
    parts.append(
        '<foxml:datastream ID="AUDIT" STATE="A" CONTROL_GROUP="X" VERSIONABLE="false">'
        f'<foxml:datastreamVersion ID="AUDIT.0" LABEL="" CREATED="{created}"'
        ' MIMETYPE="text/xml"><foxml:xmlContent>'
        '<audit:auditTrail xmlns:audit="info:fedora/fedora-system:def/audit#"/>'
        "</foxml:xmlContent></foxml:datastreamVersion></foxml:datastream>"
    )
    parts.append("</foxml:digitalObject>")
    return "".join(parts)


def _malform(rng: random.Random, content: str) -> str:
    """An object-level failure: truncated XML, or an impossible object
    state. Either costs exactly one ``object`` error row and no triples."""
    if rng.random() < 0.5:
        return content[: len(content) // 2]
    return content.replace('#state" VALUE="', '#state" VALUE="Z', 1)


def _new_stats() -> dict:
    return {"literals": 0, "empty_literals": 0, "datastreams": 0,
            "multi_version": 0, "rels_int": 0}


def foxml_corpus(seed: int, n_objects: int) -> FoxmlCorpus:
    """``n_objects`` distinct objects at commit ``c1``; ~``DUP_SHARE`` of
    them repeated with identical content at commit ``c2``."""
    rng = random.Random(f"foxml:{seed}")
    stats = _new_stats()
    rows: list[tuple] = []
    malformed = 0
    for i in range(n_objects):
        pid = f"bench:{i}"
        content = foxml_object(rng, pid, stats)
        bad = rng.random() < MALFORMED_SHARE
        if bad:
            content = _malform(rng, content)
        copies = 2 if rng.random() < DUP_SHARE else 1
        for commit in ("c1", "c2")[:copies]:
            rows.append(("bench-foxml", f"info:fedora/{pid}", commit, "foxml", content))
            malformed += bad
    planted = {
        "objects": n_objects,
        "rows": len(rows),
        "duplicate_share": round((len(rows) - n_objects) / n_objects, 6),
        "malformed_rows": malformed,
        "malformed_share": round(malformed / len(rows), 6),
        "empty_literal_share": round(stats["empty_literals"] / stats["literals"], 6),
        "rels_int_share": round(stats["rels_int"] / n_objects, 6),
        "multi_version_share": round(stats["multi_version"] / stats["datastreams"], 6),
    }
    return FoxmlCorpus(rows=rows, malformed_rows=malformed, planted=planted)


def foxml_refresh_snapshot(seed: int, base: FoxmlCorpus) -> FoxmlCorpus:
    """The next snapshot of ``base``: ~3% of objects edited in place (same
    path and commit, new content), ~1% deleted, ~1% new objects."""
    rng = random.Random(f"refresh:{seed}")
    stats = _new_stats()
    by_path: dict[str, list[tuple]] = {}
    for row in base.rows:
        by_path.setdefault(row[1], []).append(row)
    rows: list[tuple] = []
    changed = deleted = 0
    for path, versions in by_path.items():
        u = rng.random()
        if u < DELETED_SHARE:
            deleted += 1
            continue
        if u < DELETED_SHARE + CHANGED_SHARE:
            changed += 1
            pid = path[len("info:fedora/"):]
            content = foxml_object(rng, pid, stats)
            versions = [(r[0], r[1], r[2], r[3], content) for r in versions]
        rows.extend(versions)
    n_base = len(by_path)
    n_new = round(n_base * NEW_SHARE)
    for i in range(n_new):
        pid = f"bench:new{i}"
        rows.append(("bench-foxml", f"info:fedora/{pid}", "c1", "foxml",
                     foxml_object(rng, pid, stats)))
    malformed = sum(_is_malformed(r[4]) for r in rows)
    planted = {
        "objects": n_base - deleted + n_new,
        "rows": len(rows),
        "changed_share": round(changed / n_base, 6),
        "deleted_share": round(deleted / n_base, 6),
        "new_share": round(n_new / n_base, 6),
        "malformed_rows": malformed,
    }
    return FoxmlCorpus(rows=rows, malformed_rows=malformed, planted=planted)


def _is_malformed(content: str) -> bool:
    return not content.endswith("</foxml:digitalObject>") or '#state" VALUE="Z' in content


# --- source code -------------------------------------------------------------


@dataclass
class CodeCorpus:
    rows: list[tuple]
    #: distinct (file URI, sha256) pairs the output's code:sha256 must equal
    sha_pairs: set[tuple[str, str]]
    #: planted distinct quad counts per predicate
    expected: dict[str, int]
    planted: dict = field(default_factory=dict)


def _zipf_cum_weights(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(n)))


def _py_file(rng: random.Random, mod_names: list[str], cum_weights: list[float],
             own: str) -> tuple[str, set[str], set[str]]:
    """A Python-like file: distinct imports (Zipf-skewed fan-in over the
    repo's modules plus stdlib-like externals), distinct function and class
    definitions, and call sites. Returns (content, defined names, imports)."""
    imports: set[str] = set()
    for _ in range(rng.randrange(2, 7)):
        imports.add(rng.choices(mod_names, cum_weights=cum_weights)[0])
    imports.discard(own)
    defs = [f"f_{own}_{k}" for k in range(rng.randrange(1, 6))]
    classes = [f"C{own}{k}" for k in range(rng.randrange(0, 3))]
    lines = [f'"""Module {own}: {_phrase(rng, 6)}."""', ""]
    for m in sorted(imports):
        lines.append(f"import {m}" if rng.random() < 0.6 else f"from {m} import helper")
    lines.append("")
    for c in classes:
        lines += [f"class {c}(object):", f"    label = {_phrase(rng, 2)!r}", ""]
    for d in defs:
        callee = rng.choice(defs)
        lines += [
            f"def {d}(x, y=0):",
            f"    # {_phrase(rng, 5)}",
            f"    total = {callee}(x - 1, y) if x > 0 else y",
            f"    return helper(total) + len({_phrase(rng, 2)!r})",
            "",
        ]
    return "\n".join(lines) + "\n", set(defs) | set(classes), imports


def code_corpus(seed: int, n_files: int) -> CodeCorpus:
    """``n_files`` Python-like files over ``N_REPOS`` repos; ~10% are exact
    vendored copies of a file of another repo, ~10% of paths also appear at
    a second commit (an edit that adds one definition)."""
    rng = random.Random(f"code:{seed}")
    per_repo = max(1, n_files // N_REPOS)
    files: list[tuple[str, str, str, str]] = []  # repo, path, commit, content
    defines: set[tuple[str, str]] = set()
    imports: set[tuple[str, str]] = set()
    fan_in: dict[tuple[str, str], int] = {}

    def add(repo: str, path: str, commit: str, content: str, names, imps) -> None:
        furi = f"src:{repo}/{path}"
        files.append((repo, path, commit, content))
        defines.update((furi, n) for n in names)
        imports.update((furi, m) for m in imps)
        for m in imps:
            fan_in[(repo, m)] = fan_in.get((repo, m), 0) + 1

    originals: list[tuple[int, str, str, set, set]] = []
    two_commit = 0
    for r in range(N_REPOS):
        repo = f"org{r % 7}/repo{r}"
        mods = [f"mod{k}" for k in range(per_repo)]
        cum_weights = _zipf_cum_weights(len(mods))
        for k, own in enumerate(mods):
            path = f"pkg{k % 5}/{own}.py"
            content, names, imps = _py_file(rng, mods, cum_weights, own)
            add(repo, path, "c1", content, names, imps)
            originals.append((r, content, own, names, imps))
            if rng.random() < TWO_COMMIT_SHARE:
                two_commit += 1
                extra = f"f_{own}_edit"
                content2 = content + f"\ndef {extra}(z):\n    return z\n"
                add(repo, path, "c2", content2, names | {extra}, imps)
    n_vendored = round(len(originals) * VENDORED_SHARE)
    for v in range(n_vendored):
        src, content, own, names, imps = originals[rng.randrange(len(originals))]
        dst = (src + 1 + rng.randrange(N_REPOS - 1)) % N_REPOS  # another repo
        repo = f"org{dst % 7}/repo{dst}"
        add(repo, f"vendor/v{v}/{own}.py", "c1", content, names, imps)

    rows = [(repo, path, commit, "python", content) for repo, path, commit, content in files]
    sha_pairs = {(f"src:{r}/{p}", hashlib.sha256(c.encode()).hexdigest())
                 for r, p, _, c in files}
    fan = sorted(fan_in.values(), reverse=True)
    top = max(1, len(fan) // 100)
    planted = {
        "files": len(rows),
        "repos": N_REPOS,
        "vendored_share": round(n_vendored / len(rows), 6),
        "two_commit_share": round(two_commit / len(originals), 6),
        # share of import edges that land on the top 1% most-imported modules
        "fan_in_top1pct_share": round(sum(fan[:top]) / max(1, sum(fan)), 6),
    }
    expected = {
        "code:defines": len(defines),
        "code:name": len(defines),
        "code:imports": len(imports),
        "code:sha256": len(sha_pairs),
    }
    return CodeCorpus(rows=rows, sha_pairs=sha_pairs, expected=expected, planted=planted)

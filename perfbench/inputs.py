"""Seeded benchmark inputs and their expected results.

Every input is a pure function of ``(seed, scale)`` and is written as plain
parquet files under the benchmark's work directory, cached per seed. The
program under test only ever receives those files. Expected results are
computed here, once per seed, in pure Python or DuckDB from the generated
records — never from Spark output.

Two corpora:

* the interleaved corpus (``extract``, ``positions``, ``job_dirty``): the
  engine's ``documents_spans`` + ``line_images`` shape from
  ``sources.synth.gen_document``, corpus name derived from the seed. The
  document mix is stratified so every seed does the same amount of work:
  ``per_len`` documents of every span count the generator draws (3..40)
  plus one long skew-tail document of about 1,000 spans (the generator's
  1% tail; sf0.1 has the same share), balanced to the expected media span
  total. A dirty copy of the
  media table replaces ``n_corrupt`` blobs with garbage bytes and drops
  ``n_dangling`` rows, so their ``media_ref``s dangle.
* the curate corpus: a ``documents(doc_id, text, lang, source, n_chars)``
  table with the shape measured on the TPC-H-ish sf0.1 ``documents``
  parquet (``python3 perfbench/inputs.py --shape <path>`` prints it; the
  figures are in README.md): 95% originals of 10..99 words drawn
  uniformly from a 30-word vocabulary, and 5% duplicates at random
  positions, each a copy of another document with `` dup`` appended.

``python3 perfbench/inputs.py --kind K --seed N --scale S`` generates one
corpus into the cache; ``run.py`` calls it in a child process so that the
measured process only reads cached files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_COUNTS = range(3, 41)  # gen_document's non-tail span-count range
MEDIA_SHARE = 0.45  # gen_document's media-span probability
LONG_SPANS = (900, 1100)  # accepted span count of the one skew-tail doc
MAX_SWAP_PROBES = 20000  # bound on the media-total balancing search
TEXT_RULESETS = ["quotes", "spaces"]  # extraction's strip chain


@dataclass(frozen=True)
class Scale:
    per_len: int  # regular interleaved docs per span count
    long_doc: bool  # include the skew-tail document
    n_corrupt: int  # corrupt blobs in the dirty media table
    n_dangling: int  # media rows dropped from the dirty media table
    n_curate: int  # documents in the curate corpus


SCALES = {
    "full": Scale(per_len=3, long_doc=True, n_corrupt=8, n_dangling=8, n_curate=5000),
    "tiny": Scale(per_len=1, long_doc=False, n_corrupt=2, n_dangling=2, n_curate=200),
}

SPANS_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)])
MEDIA_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("png", pa.binary()),
        ("gt", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
    ]
)
CURATE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

# the sf0.1 documents' shape (README.md, "Curate corpus")
CURATE_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column small join customer query big "
    "order stream group filter vector"
).split()
CURATE_WORDS_PER_DOC = (10, 99)  # uniform, inclusive
CURATE_DUP_SHARE = 0.05
CURATE_DUP_MARK = "dup"
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20


def _rng(*keys) -> random.Random:
    h = hashlib.sha256("|".join(str(k) for k in keys).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "little"))


def _write(path: str, rows: list, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


# ---------------------------------------------------------------------------
# interleaved corpus
# ---------------------------------------------------------------------------

def _probe(corpus: str, idx: int) -> tuple:
    from calamari_spark.sources.synth import gen_document

    _, spans, _ = gen_document(idx, corpus, skew_tail=True, with_media=False)
    return len(spans), sum(s["kind"] == "media" for s in spans)


def _pick_interleaved_docs(corpus: str, scale: Scale) -> list:
    """Doc indices: ``per_len`` docs of every span count plus (at full
    scale) the first skew-tail doc with a span count in LONG_SPANS, then
    same-span-count swaps until the media span total is exactly the
    expected one. Every seed has the same number of docs and media lines;
    only their content differs."""
    by_n = {n: {} for n in SPAN_COUNTS}  # span count -> {idx: n_media}
    long_doc = {}
    target = scale.per_len * sum(round(MEDIA_SHARE * n) for n in SPAN_COUNTS)
    target += round(MEDIA_SHARE * sum(LONG_SPANS) / 2) if scale.long_doc else 0
    idx = 0
    while any(len(d) < scale.per_len for d in by_n.values()) or (
        scale.long_doc and not long_doc
    ):
        n, m = _probe(corpus, idx)
        if n in by_n and len(by_n[n]) < scale.per_len:
            by_n[n][idx] = m
        elif scale.long_doc and not long_doc and LONG_SPANS[0] <= n <= LONG_SPANS[1]:
            long_doc[idx] = m
        idx += 1
    total = sum(m for d in by_n.values() for m in d.values()) + sum(long_doc.values())
    for idx in range(idx, idx + MAX_SWAP_PROBES):
        if total == target:
            break
        step = 1 if target > total else -1
        n, m = _probe(corpus, idx)
        old = next((i for i, mi in by_n.get(n, {}).items() if mi == m - step), None)
        if old is not None:
            del by_n[n][old]
            by_n[n][idx] = m
            total += step
    return sorted([i for d in by_n.values() for i in d] + list(long_doc))


def _expected_seq(spans: list, gt_of: dict) -> list:
    """The per-doc span sequence extract_documents must produce: spans in
    offset order, text spans through the strip chain, media spans carrying
    their line's ground truth (the template ensemble is exact on the
    synthetic font)."""
    from calamari_spark.functions.text import regularize_str

    out = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "media":
            text = gt_of.get(s["media_ref"])
        else:
            text = regularize_str(s["text"], rulesets=TEXT_RULESETS)
        out.append([s["kind"], text, s["media_ref"], s["offset"]])
    return out


def make_interleaved(out: str, seed: int, scale: Scale) -> dict:
    from calamari_spark.sources.synth import gen_document

    corpus = f"bench{seed}"
    docs, media = [], []
    for idx in _pick_interleaved_docs(corpus, scale):
        doc_id, spans, rows = gen_document(idx, corpus, skew_tail=True)
        docs.append({"doc_id": doc_id, "spans": spans})
        media.extend(rows)
    docs.sort(key=lambda d: d["doc_id"])
    media.sort(key=lambda m: m["media_ref"])

    rng = _rng("dirty", seed)
    bad = rng.sample(range(len(media)), scale.n_corrupt + scale.n_dangling)
    corrupt = {media[i]["media_ref"] for i in bad[: scale.n_corrupt]}
    dangling = {media[i]["media_ref"] for i in bad[scale.n_corrupt:]}
    dirty = []
    for m in media:
        if m["media_ref"] in dangling:
            continue
        if m["media_ref"] in corrupt:
            m = dict(m, png=b"corrupt blob " + m["media_ref"].encode())
        dirty.append(m)

    _write(os.path.join(out, "documents_spans.parquet"), docs, DOCS_SCHEMA)
    _write(os.path.join(out, "line_images.parquet"), media, MEDIA_SCHEMA)
    _write(os.path.join(out, "line_images_dirty.parquet"), dirty, MEDIA_SCHEMA)

    gt_of = {m["media_ref"]: m["gt"] for m in media}
    failed_refs = corrupt | dangling
    quarantine = sorted(
        [d["doc_id"], s["media_ref"], s["offset"],
         "dangling" if s["media_ref"] in dangling else "corrupt"]
        for d in docs for s in d["spans"] if s["media_ref"] in failed_refs
    )
    return {
        "docs": {d["doc_id"]: _expected_seq(d["spans"], gt_of) for d in docs},
        "lines": gt_of,
        "media_docs": sorted(
            d["doc_id"] for d in docs if any(s["kind"] == "media" for s in d["spans"])
        ),
        "n_media_spans": sum(s["kind"] == "media" for d in docs for s in d["spans"]),
        "quarantine": quarantine,
    }


# ---------------------------------------------------------------------------
# curate corpus
# ---------------------------------------------------------------------------

def make_curate(out: str, seed: int, scale: Scale) -> dict:
    """Originals of uniformly random length and words; then, at random
    positions, duplicates: the text of a random already-filled document
    (sometimes itself a duplicate) with `` dup`` appended. A duplicate's
    MinHash similarity to its source is near 1, so every cluster is a
    clique (diameter 1) and the connected-components round count does not
    depend on the seed."""
    rng = _rng("curate", seed)
    n = scale.n_curate
    dup_ids = set(rng.sample(range(n), round(CURATE_DUP_SHARE * n)))
    texts: dict = {}
    for i in range(n):
        if i not in dup_ids:
            lo, hi = CURATE_WORDS_PER_DOC
            texts[i] = " ".join(rng.choice(CURATE_WORDS) for _ in range(rng.randint(lo, hi)))
    for i in sorted(dup_ids, key=lambda _: rng.random()):
        texts[i] = texts[rng.choice(sorted(texts))] + " " + CURATE_DUP_MARK
    rows = [
        {
            "doc_id": i,
            "text": texts[i],
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{i % N_SOURCES}",
            "n_chars": len(texts[i]),
        }
        for i in range(n)
    ]
    path = os.path.join(out, "documents.parquet")
    _write(path, rows, CURATE_SCHEMA)
    return {"clusters": _clusters_oracle(path), "n_docs": len(rows)}


def _minhash_pairs_duckdb(path: str) -> list:
    """(doc_a, doc_b, similarity) from DuckDB running the DuckDB mirror of
    minhash_pairs (plans.dedup's oracle SQL)."""
    import duckdb

    from calamari_spark.plans.dedup import _minhash_parts

    ctes, pair_select = _minhash_parts()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con.execute(f"WITH {ctes} {pair_select}").fetchall()
    finally:
        con.close()


def _clusters_oracle(path: str) -> dict:
    """doc_id -> keeper (the min doc_id of its component) for every doc in
    a MinHash-LSH pair. Pairs come from DuckDB running the DuckDB mirror of
    minhash_pairs (plans.dedup's oracle SQL); the transitive closure that
    the recursive-CTE oracle computes is done here with a union-find, which
    gives the same components in a fraction of the time."""
    pairs = _minhash_pairs_duckdb(path)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {str(d): int(find(d)) for d in parent}


# ---------------------------------------------------------------------------
# per-seed cache
# ---------------------------------------------------------------------------

MAKERS = {"interleaved": make_interleaved, "curate": make_curate}


def cache_dir(work: str, kind: str, seed: int, scale_name: str) -> str:
    return os.path.join(work, "inputs", f"{kind}-{scale_name}-{seed}")


def prepare(work: str, kind: str, seed: int, scale_name: str) -> float:
    """Generate the corpus into its cache directory unless it is there
    already; returns the generation seconds (0 on a cache hit). A directory
    is used only once its expected.json exists, so a run killed
    mid-generation regenerates instead of reading half-written files."""
    out = cache_dir(work, kind, seed, scale_name)
    exp_path = os.path.join(out, "expected.json")
    if os.path.exists(exp_path):
        return 0.0
    t0 = time.perf_counter()
    os.makedirs(out, exist_ok=True)
    expected = MAKERS[kind](out, seed, SCALES[scale_name])
    tmp = exp_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, exp_path)
    return time.perf_counter() - t0


def load(work: str, kind: str, seed: int, scale_name: str) -> tuple:
    """(input dir, expected results) of a prepared corpus."""
    out = cache_dir(work, kind, seed, scale_name)
    with open(os.path.join(out, "expected.json")) as f:
        return out, json.load(f)


# ---------------------------------------------------------------------------
# shape of a documents table
# ---------------------------------------------------------------------------

def corpus_shape(path: str) -> dict:
    """The figures the curate corpus is generated to match, measured on
    any ``documents`` parquet: size, vocabulary, words per document,
    duplicate share, and the size and diameter of the MinHash-LSH pair
    clusters."""
    import collections
    import statistics

    rows = pq.read_table(path, columns=["doc_id", "text", "lang", "source"]).to_pylist()
    words = [r["text"].split() for r in rows]
    lens = sorted(len(w) for w in words)
    adj: dict = collections.defaultdict(set)
    for a, b, _ in _minhash_pairs_duckdb(path):
        adj[a].add(b)
        adj[b].add(a)

    def eccentricity(src: int) -> tuple:
        dist = {src: 0}
        queue = [src]
        for x in queue:
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    queue.append(y)
        return frozenset(dist), max(dist.values())

    comps: dict = {}
    for v in adj:
        members, ecc = eccentricity(v)
        comps[members] = max(comps.get(members, 0), ecc)
    n = len(rows)
    return {
        "docs": n,
        "vocabulary": len({w for ws in words for w in ws}),
        "words_min": lens[0],
        "words_max": lens[-1],
        "words_mean": round(statistics.mean(lens), 2),
        "words_deciles": statistics.quantiles(lens, n=10),
        "dup_share": sum(CURATE_DUP_MARK in ws for ws in words) / n,
        "docs_in_pairs": sum(len(c) for c in comps),
        "cluster_sizes": dict(sorted(collections.Counter(len(c) for c in comps).items())),
        "cluster_diameters": dict(sorted(collections.Counter(comps.values()).items())),
        "lang_share": {k: round(v / n, 3) for k, v in
                       sorted(collections.Counter(r["lang"] for r in rows).items())},
        "sources": len({r["source"] for r in rows}),
    }


def main(argv=None) -> int:
    import argparse
    import sys

    p = argparse.ArgumentParser(description="Generate one benchmark corpus "
                                "into the per-seed cache, or print a documents table's shape.")
    p.add_argument("--work", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                  ".work"))
    p.add_argument("--kind", choices=sorted(MAKERS))
    p.add_argument("--seed", type=int)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--shape", metavar="PARQUET",
                   help="print the shape of this documents parquet instead")
    args = p.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if args.shape:
        print(json.dumps(corpus_shape(args.shape), indent=1))
        return 0
    if args.kind is None or args.seed is None:
        p.error("--kind and --seed are required")
    print(json.dumps({"inputs_gen_s": prepare(args.work, args.kind, args.seed, args.scale)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

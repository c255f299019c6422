"""Seeded inputs for the three workloads, with their references.

Pages come from ``datagen.make_page(i, seed)``, whose fixed schedule
makes 1/17 of pages empty, 1/17 boilerplate-only, 1/17 giant
(400 paragraphs), some non-ASCII and 20% ``de``.  On top of that:

* ``extract_pages``: the pages as parquet files;
* ``corpus_funnel``: the pages plus a fixed share of each kind's pages
  as exact re-crawls (the same html under a new url), each stored
  right after its original;
* ``warc_stream``: the pages rendered as per-record-gzip ``.warc.gz``
  files (Common Crawl layout) with ``sources.warc.build_warc``.

Each document's reference extraction (``oracle.extract_document``) is
computed in the same worker that generates it.  Inputs and references
are cached under ``<work>/inputs/<workload>-s<seed>-n<size>-<code>``,
where ``<code>`` hashes the package source and this generator, so a
change to ``datagen`` or ``oracle`` builds them again; the
``meta.json`` written last marks a complete entry.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time

from reference import funnel_reference

#: documents per workload (a multiple of 17 covers the schedule evenly)
SIZES = {"extract_pages": 680, "corpus_funnel": 510, "warc_stream": 408}
#: re-crawls added to ``corpus_funnel``, as a share of each datagen kind
RECRAWL_SHARE = 0.25
#: datagen's schedule: page ``i`` is of kind ``i % KINDS``
KINDS = 17
PARQUET_FILES = 16
WARC_FILES = 24
WARC_TS = "2024-01-01T00:00:00Z"


def _recrawl_url(url: str) -> str:
    return url + "?recrawl=1"


def _build_file(task: dict) -> dict:
    """Generate one input file and the references of its documents.
    Runs in a worker process: everything it needs is in ``task``."""
    from page_segmentation_spark.datagen import make_page
    from page_segmentation_spark.oracle import extract_document

    seed = task["seed"]
    counts = {"docs": 0, "empty": 0, "boilerplate_only": 0, "giant": 0,
              "de": 0, "duplicate": 0}
    refs = {}
    aliases = {}
    pages = []
    for doc_id, recrawl in task["rows"]:
        p = make_page(doc_id, seed)
        html = p["html"]
        counts["docs"] += 1
        counts["empty"] += b"<body></body>" in html
        counts["boilerplate_only"] += (
            b"<body></body>" not in html and b"<article>" not in html
        )
        counts["giant"] += html.count(b"<p>") >= 400
        counts["de"] += p["lang"] == "de"
        counts["duplicate"] += recrawl
        if recrawl:
            aliases[_recrawl_url(p["url"])] = p["url"]
            p = dict(p, url=_recrawl_url(p["url"]))
        else:
            r = extract_document(html)
            refs[p["url"]] = [r["extracted_text"], r["n_nodes"]]
        pages.append(p)
    if task["format"] == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "url": pa.array([p["url"] for p in pages], pa.string()),
                "warc_ts": pa.array(
                    [p["warc_ts"] for p in pages], pa.timestamp("us", "UTC")
                ),
                "html": pa.array([p["html"] for p in pages], pa.binary()),
                "text": pa.array([p["text"] for p in pages], pa.string()),
                "lang": pa.array([p["lang"] for p in pages], pa.string()),
            }
        )
        pq.write_table(table, task["path"])
    else:
        from page_segmentation_spark.sources.warc import build_warc

        data = build_warc(
            [{"url": p["url"], "ts": WARC_TS, "body": p["html"]} for p in pages]
        )
        with open(task["path"], "wb") as f:
            f.write(data)
    return {"counts": counts, "refs": refs, "aliases": aliases}


def _layout(workload: str, seed: int, n: int) -> tuple[str, list[list]]:
    """(file format, rows per file) — rows are (doc_id, is_recrawl)."""
    if workload == "warc_stream":
        per = -(-n // WARC_FILES)
        return "warc", [
            [(i, False) for i in range(k * per, min(n, (k + 1) * per))]
            for k in range(WARC_FILES)
        ]
    rows = [(i, False) for i in range(n)]
    if workload == "corpus_funnel":
        # the same share of every datagen kind, so each seed re-crawls
        # as many giant (and empty, ...) pages; each re-crawl follows
        # its original, so giant pages stay evenly spread over files
        rng = random.Random(seed)
        for kind in range(KINDS):
            ids = range(kind, n, KINDS)
            rows += [(i, True) for i in rng.sample(ids, round(len(ids) * RECRAWL_SHARE))]
        rows.sort()
    per = -(-len(rows) // PARQUET_FILES)
    return "parquet", [
        rows[k * per: (k + 1) * per] for k in range(PARQUET_FILES)
    ]


class Inputs:
    """One workload's generated inputs: ``data_dir`` holds the files;
    ``refs`` maps every input url to [extracted_text, n_nodes] from the
    oracle; for ``corpus_funnel``, ``funnel_ref`` maps each url the
    funnel keeps to [lang, n_tokens, content_fp, clean_text]."""

    def __init__(self, root: str, meta: dict, refs: dict, funnel_ref=None):
        self.root = root
        self.meta = meta
        self.refs = refs
        self.funnel_ref = funnel_ref
        self.data_dir = os.path.join(root, "data")

    @property
    def n_docs(self) -> int:
        return self.meta["counts"]["docs"]


def code_version(pkg_dir: str) -> str:
    """Short hash of the package source and of the generator and
    reference modules, which together determine the cached inputs."""
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(here, f) for f in ("inputs.py", "reference.py")]
    for dp, dirs, fs in os.walk(pkg_dir):
        dirs.sort()
        files += [os.path.join(dp, f) for f in sorted(fs) if f.endswith(".py")]
    h = hashlib.sha1()
    for path in files:
        h.update(os.path.relpath(path, pkg_dir).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def load_or_build(
    work: str, workload: str, seed: int, procs: int, tmp_dir: str
) -> Inputs:
    """Cached inputs for (workload, seed, size); built with ``procs``
    forked workers (and DuckDB threads) when absent."""
    from page_segmentation_spark import __file__ as pkg_init

    n = SIZES[workload]
    code = code_version(os.path.dirname(pkg_init))
    root = os.path.join(work, "inputs", f"{workload}-s{seed}-n{n}-{code}")
    meta_path = os.path.join(root, "meta.json")
    refs_path = os.path.join(root, "refs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        with open(refs_path) as f:
            refs = json.load(f)
        meta["cached"] = True
        return Inputs(root, meta, refs["docs"], refs["funnel"])

    t0 = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(data)
    fmt, files = _layout(workload, seed, n)
    ext = ".parquet" if fmt == "parquet" else ".warc.gz"
    tasks = [
        {"seed": seed, "format": fmt, "rows": rows,
         "path": os.path.join(data, f"part-{k:03d}{ext}")}
        for k, rows in enumerate(files)
    ]
    # fork, not spawn: a spawn pool starts multiprocessing's resource
    # tracker, a process that outlives the benchmark's exit; the
    # workers use none of the threads a fork leaves behind
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(procs)
    try:
        results = pool.map(_build_file, tasks, chunksize=1)
    finally:
        pool.close()
        pool.join()
    counts: dict = {}
    refs: dict = {}
    for r in results:
        for k, v in r["counts"].items():
            counts[k] = counts.get(k, 0) + int(v)
        refs.update(r["refs"])
    for r in results:  # a re-crawl's reference is its original's
        for url, base in r["aliases"].items():
            refs[url] = refs[base]
    docs = counts["docs"]
    meta = {
        "workload": workload,
        "seed": seed,
        "size": n,
        "code": code,
        "files": len(tasks),
        "bytes": sum(os.path.getsize(t["path"]) for t in tasks),
        "counts": counts,
        "shares": {
            k: round(v / docs, 6) for k, v in counts.items() if k != "docs"
        },
        "gen_s": time.perf_counter() - t0,
    }
    funnel = None
    if workload == "corpus_funnel":
        t0 = time.perf_counter()
        funnel = funnel_reference(refs, tmp_dir, procs)
        meta["funnel_ref_s"] = time.perf_counter() - t0
    with open(refs_path, "w") as f:
        json.dump({"docs": refs, "funnel": funnel}, f)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    meta["cached"] = False
    return Inputs(root, meta, refs, funnel)


def sample_docs(inputs: Inputs, target: int = 340) -> list[tuple[str, bytes]]:
    """A deterministic sample of (url, html) covering every datagen
    kind: every k-th base document, with k not a multiple of 17."""
    from page_segmentation_spark.datagen import make_page

    base = inputs.meta["size"]
    stride = max(1, base // target)
    if stride % KINDS == 0:
        stride += 1
    out = []
    for i in range(0, base, stride):
        p = make_page(i, inputs.meta["seed"])
        out.append((p["url"], p["html"]))
    return out

"""Structured-Streaming extraction tests: incremental output must be
byte-identical to the batch pipeline; late-data aggregation compiles to a
valid streaming plan."""

from page_segmentation_spark.datagen import pages_df
from page_segmentation_spark.plans.extract import extract
from page_segmentation_spark.streaming.extract_stream import (
    crawl_stats_stream,
    stream_extract,
)


def test_stream_extract_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_df(spark, 20, partitions=2).cache()
    pages.write.parquet(src)

    q = stream_extract(spark, src, out, ckpt)
    q.awaitTermination(120)

    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out).collect()
    }
    want = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    assert got == want  # byte-identical to batch

    # second availableNow run: checkpoint says nothing new -> no dupes
    q2 = stream_extract(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 20


def test_stream_extract_incremental_new_files(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, 10, partitions=1).write.parquet(src)
    stream_extract(spark, src, out, ckpt).awaitTermination(120)
    # land more pages, stream again
    pages_df(spark, 6, partitions=1, ).where(
        "url like '%page/3%'"
    ).write.mode("append").parquet(src)
    stream_extract(spark, src, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() > 10


def test_first_seen_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: repeated content across micro-batches
    is suppressed by keyed state — each normalized content emits once."""
    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.sources.pages_schema import PAGES_DDL
    from page_segmentation_spark.streaming.dedup_stream import (
        first_seen_stream,
    )

    ship_package(spark)
    src = str(tmp_path / "pages_in")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "first_seen_out")

    def run_cycle():
        stream = (
            spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def write_batch(df, _bid):
            df.write.mode("append").parquet(sink)

        q = (
            first_seen_stream(stream)
            .writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # cycle 1: docs 2..5 (0/1 excluded), each distinct content
    pages_df(spark, 6, partitions=1).where("url like '%page/_'").where(
        "url not like '%page/0' and url not like '%page/1'"
    ).coalesce(1).write.parquet(src)
    run_cycle()
    assert spark.read.parquet(sink).count() == 4

    # cycle 2: docs 2,3,4 re-delivered (same content) + fresh docs 8,9 —
    # state suppresses the repeats, only the new contents emit
    pages_df(spark, 10, partitions=1).where(
        "url like '%page/2' or url like '%page/3' or url like '%page/4' "
        "or url like '%page/8' or url like '%page/9'"
    ).coalesce(1).write.mode("append").parquet(src)
    run_cycle()
    rows = spark.read.parquet(sink).collect()
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes))  # no re-emission ever
    assert len(hashes) == 6  # 4 originals + docs 8 and 9


def test_first_seen_dedup_horizon_eviction(spark, tmp_path):
    """Event-time TTL eviction: a content hash unseen past the horizon is
    evicted (re-emits on return); one re-delivered inside the horizon
    stays suppressed.  Watermark advances run-over-run via checkpoint."""
    import datetime as dt

    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.sources.pages_schema import PAGES_DDL
    from page_segmentation_spark.streaming.dedup_stream import (
        first_seen_stream,
    )

    ship_package(spark)
    src = str(tmp_path / "pages_in")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "first_seen_out")

    def ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    def land(rows):
        spark.createDataFrame(
            [(u, ts(s), b"", t, "en") for (u, s, t) in rows], PAGES_DDL
        ).coalesce(1).write.mode("append").parquet(src)

    def run_cycle():
        stream = (
            spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            first_seen_stream(stream, dedup_horizon_s=600)
            .writeStream.foreachBatch(
                lambda df, _b: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: A at t=1000 -> emits; A's eviction deadline becomes t=1600
    land([("u/a1", 1000, "alpha text")])
    run_cycle()
    # run 2: B at t=3000 -> emits; watermark during the batch is still
    # 1000 (from run 1), so A survives; after the run watermark = 3000
    land([("u/b1", 3000, "beta text")])
    run_cycle()
    # run 3: C at t=3100 -> emits; batch runs with watermark 3000 > 1600
    # so A's state is evicted; B (deadline 3600) survives
    land([("u/c1", 3100, "gamma text")])
    run_cycle()
    # run 4: A and B re-delivered at t=3200 -> A re-emits (evicted), B is
    # still suppressed (deadline 3600 > watermark 3100)
    land([("u/a2", 3200, "alpha text"), ("u/b2", 3200, "beta text")])
    run_cycle()

    rows = spark.read.parquet(sink).collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], []).append(r["first_url"])
    counts = sorted(len(v) for v in by_hash.values())
    assert len(rows) == 4  # A, B, C, A-again
    assert counts == [1, 1, 2]  # only A emitted twice
    twice = [urls for urls in by_hash.values() if len(urls) == 2][0]
    assert sorted(twice) == ["u/a1", "u/a2"]


def test_crawl_stats_stream_plan(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    pages_df(spark, 8, partitions=1).write.parquet(src)
    agg = crawl_stats_stream(spark, src)
    assert agg.isStreaming
    # run one availableNow cycle into memory sink
    q = (
        agg.writeStream.format("memory")
        .queryName("crawl_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from crawl_stats").collect()
    assert len(rows) > 0
    assert all(r["n_pages"] > 0 for r in rows)


def test_stream_extract_warc_matches_batch(spark, tmp_path):
    """Streaming WARC landing-dir consumption == batch read_warc+extract,
    with exactly-once file semantics across availableNow cycles."""
    import os

    from page_segmentation_spark.datagen import make_page
    from page_segmentation_spark.sources.warc import build_warc
    from page_segmentation_spark.streaming.extract_stream import (
        stream_extract_warc,
    )

    src = str(tmp_path / "warc_in")
    out = str(tmp_path / "warc_out")
    ckpt = str(tmp_path / "warc_ckpt")
    os.makedirs(src)
    ts = "2024-01-01T00:00:00Z"

    def _warc(name, ids):
        with open(os.path.join(src, name), "wb") as f:
            f.write(
                build_warc(
                    [
                        {
                            "url": make_page(i)["url"],
                            "ts": ts,
                            "body": make_page(i)["html"],
                        }
                        for i in ids
                    ]
                )
            )

    _warc("a.warc.gz", range(0, 6))
    stream_extract_warc(spark, src, out, ckpt).awaitTermination(120)
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 6
    from page_segmentation_spark.oracle import extract_document

    for i in range(6):
        p = make_page(i)
        assert got[p["url"]] == extract_document(p["html"])["extracted_text"]

    # second cycle with one new file: only the new records land
    _warc("b.warc.gz", range(6, 9))
    stream_extract_warc(spark, src, out, ckpt).awaitTermination(120)
    assert spark.read.parquet(out).count() == 9


def test_stream_extract_fused_plan_matches_batch(spark, tmp_path):
    """stream_extract_warc still accepts its former plan= names (both run
    the one extraction plan) and rejects anything else."""
    import os

    import pytest as _pytest

    from page_segmentation_spark.datagen import make_page
    from page_segmentation_spark.sources.warc import build_warc, read_warc
    from page_segmentation_spark.streaming.extract_stream import (
        stream_extract_warc,
    )

    src = str(tmp_path / "warc_in_f")
    os.makedirs(src)
    recs = [
        {"url": make_page(i)["url"], "ts": "2024-01-01T00:00:00Z",
         "body": make_page(i)["html"]}
        for i in range(8)
    ]
    with open(os.path.join(src, "a.warc.gz"), "wb") as f:
        f.write(build_warc(recs))
    batch = read_warc(spark, src).select("url", "html")
    want = {r["url"]: r["extracted_text"] for r in extract(batch).collect()}
    for plan in ("fused", "declarative"):
        out = str(tmp_path / f"out_{plan}")
        stream_extract_warc(
            spark, src, out, str(tmp_path / f"ckpt_{plan}"), plan=plan
        ).awaitTermination(120)
        got = {
            r["url"]: r["extracted_text"]
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, plan

    with _pytest.raises(ValueError):
        stream_extract_warc(
            spark, src, str(tmp_path / "o"), str(tmp_path / "c"), plan="nope"
        )


def test_stream_training_corpus_cross_batch_dedup(spark, tmp_path):
    """Continuous corpus build: the funnel filters run per micro-batch,
    and the content-fingerprint state suppresses re-delivered content
    across separate streaming cycles (restart-surviving state)."""
    import os

    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.sources.warc import build_warc
    from page_segmentation_spark.streaming.corpus_stream import (
        stream_training_corpus,
    )

    ship_package(spark)
    src = str(tmp_path / "warc_in")
    ckpt = str(tmp_path / "corpus_ckpt")
    sink = str(tmp_path / "corpus_out")
    os.makedirs(src)

    def page_html(title, paras):
        return (
            "<!DOCTYPE html><html><head><title>t</title></head><body>"
            f"<article><h1>{title}</h1>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</article>"
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/a">About us</a></li>'
            '<li><a href="/c">Contact</a></li></ul></nav></body></html>'
        ).encode()

    body_x = [
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every day.",
        "a second paragraph of plain prose keeps the word count up "
        "and gives the filter something real to keep.",
        "the third paragraph closes out this little document with "
        "enough words that every rule passes today.",
    ]
    body_y = [p.replace("quick", "slow").replace("second", "middle")
              for p in body_x]
    body_z = [p.replace("fox", "wolf").replace("little", "larger")
              for p in body_x]

    def run_cycle():
        q = stream_training_corpus(spark, src, sink, ckpt)
        q.awaitTermination(180)

    def recs(pages):
        return [
            {"url": u, "ts": "2024-01-01T00:00:00Z", "body": page_html(t, b)}
            for u, t, b in pages
        ]

    with open(os.path.join(src, "c1.warc.gz"), "wb") as f:
        f.write(build_warc(recs([
            ("https://s/a", "One", body_x),
            ("https://s/b", "Two", body_x),   # same content as /a
            ("https://s/c", "Three", body_y),
        ])))
    run_cycle()
    out1 = spark.read.parquet(sink).collect()
    assert {r["url"] for r in out1} == {"https://s/a", "https://s/c"}
    assert {r["dup_in_batch"] for r in out1} == {2, 1}

    # cycle 2: re-delivered body_x suppressed by STATE; body_z is new
    with open(os.path.join(src, "c2.warc.gz"), "wb") as f:
        f.write(build_warc(recs([
            ("https://s/d", "Four", body_x),
            ("https://s/e", "Five", body_z),
        ])))
    run_cycle()
    out2 = spark.read.parquet(sink).collect()
    assert {r["url"] for r in out2} == {
        "https://s/a", "https://s/c", "https://s/e"
    }
    assert all(r["lang"] == "en" and r["n_tokens"] >= 50 for r in out2)


def test_corpus_compaction_matches_batch_neardup(spark, tmp_path):
    """Streaming near-dup completion: two micro-batch cycles accumulate
    the exact-deduped corpus sink; compact_corpus then runs the SAME
    near-dup pass as build_training_corpus(neardup=True) over the
    accumulated rows — including a cross-cycle near-dup pair, the case
    the stateful stream cannot catch — and the compacted snapshot is
    byte-identical to the batch funnel on the same pages.  A second
    compaction against the unchanged sink is a recorded no-op
    (high-water mark)."""
    import os

    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )
    from page_segmentation_spark.sources.warc import build_warc
    from page_segmentation_spark.streaming.corpus_stream import (
        compact_corpus,
        stream_training_corpus,
    )

    ship_package(spark)
    src = str(tmp_path / "warc_in")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    compacted = str(tmp_path / "compacted")
    mark = str(tmp_path / "compact_mark.json")
    os.makedirs(src)

    def page_html(title, paras):
        return (
            "<!DOCTYPE html><html><head><title>t</title></head><body>"
            f"<article><h1>{title}</h1>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</article>"
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/a">About us</a></li>'
            '<li><a href="/c">Contact</a></li></ul></nav></body></html>'
        ).encode()

    body = [
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every day.",
        "a second paragraph of plain prose keeps the word count up "
        "and gives the filter something real to keep.",
        "the third paragraph closes out this little document with "
        "enough words that every rule passes today.",
    ]
    near = [body[0], body[1],
            body[2].replace("rule passes", "rule still passes")]
    other = [p.replace("the", "an overly").replace("fox", "heron")
             for p in body]
    fourth = [
        "winter mornings bring pale light across the quiet harbor "
        "while fishing boats drift slowly toward the open water line.",
        "gulls wheel above the pier in wide loops calling out as the "
        "crews below stack crates of silver catch onto wooden carts.",
        "by noon the market stalls overflow with ice and salt and the "
        "whole town gathers to bargain until the evening bell rings.",
    ]
    cycle1 = [("https://s/a", "One", body), ("https://s/c", "Three", other)]
    cycle2 = [("https://s/b", "Two", near),  # near-dup of cycle-1 /a
              ("https://s/d", "Four", fourth)]
    nd_opts = dict(threshold=0.5, n_perms=8, band_size=2)

    def recs(pages):
        return [
            {"url": u, "ts": "2024-01-01T00:00:00Z", "body": page_html(t, b)}
            for u, t, b in pages
        ]

    with open(os.path.join(src, "c1.warc.gz"), "wb") as f:
        f.write(build_warc(recs(cycle1)))
    stream_training_corpus(spark, src, sink, ckpt).awaitTermination(180)
    with open(os.path.join(src, "c2.warc.gz"), "wb") as f:
        f.write(build_warc(recs(cycle2)))
    stream_training_corpus(spark, src, sink, ckpt).awaitTermination(180)

    res = compact_corpus(spark, sink, compacted, mark, neardup_opts=nd_opts)
    assert res == {"skipped": False, "rows_in": 4, "rows_kept": 3}

    cols = ["url", "lang", "n_tokens", "content_fp", "clean_text"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(compacted).collect()
    )
    all_pages = spark.createDataFrame(
        [
            (u, None, page_html(t, b), None, None)
            for u, t, b in cycle1 + cycle2
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in build_training_corpus(
            all_pages, neardup=True, neardup_opts=nd_opts
        ).collect()
    )
    assert got == want
    assert {u for u, *_ in got} == {"https://s/a", "https://s/c", "https://s/d"}

    # unchanged sink -> recorded no-op
    res2 = compact_corpus(spark, sink, compacted, mark, neardup_opts=nd_opts)
    assert res2 == {"skipped": True, "rows_in": 4, "rows_kept": 3}


def test_stream_training_corpus_wet(spark, tmp_path):
    """The streaming corpus builder over a WET landing dir: conversion
    records feed the same funnel with extraction skipped; cross-batch
    first-seen dedup holds across two cycles."""
    import os

    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.sources.warc import build_wet
    from page_segmentation_spark.streaming.corpus_stream import (
        stream_training_corpus,
    )

    ship_package(spark)
    src = str(tmp_path / "wet_in")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    body = (
        "the quick brown fox jumps over the lazy dog and then rests "
        "with a calm heart near the river bank every single day."
    )

    def doc(i):
        return {
            "url": f"https://s/{i}",
            "ts": "2024-01-01T00:00:00Z",
            "text": f"{body} number {i}.\n{body} again number {i}.",
        }

    opts = dict(
        c4_opts=dict(min_kept_lines=1), gopher_opts=dict(min_words=10)
    )
    with open(os.path.join(src, "c1.warc.wet.gz"), "wb") as f:
        f.write(build_wet([doc(0), doc(1)]))
    stream_training_corpus(
        spark, src, sink, ckpt, wet=True, **opts
    ).awaitTermination(180)
    # cycle 2 re-delivers doc 1 (different url, same content) + a new doc
    dup = dict(doc(1), url="https://mirror/1")
    with open(os.path.join(src, "c2.warc.wet.gz"), "wb") as f:
        f.write(build_wet([dup, doc(2)]))
    stream_training_corpus(
        spark, src, sink, ckpt, wet=True, **opts
    ).awaitTermination(180)

    rows = spark.read.parquet(sink).collect()
    assert {r["url"] for r in rows} == {
        "https://s/0", "https://s/1", "https://s/2"
    }
    assert all(r["n_tokens"] > 0 and r["lang"] == "en" for r in rows)

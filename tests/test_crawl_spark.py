"""Spark engine ↔ pure-Python oracle parity (SURVEY.md §5.3 Track A).

For every reference integration-test scenario, the distributed BSP crawl must
produce (i) the identical mirror file tree, (ii) byte-identical saved content,
(iii) the identical fragment-inclusive URL-seen set, and (iv) the canonical
jobs=1 visit order."""

import posixpath

import pytest

from suckit_spark.config import CrawlConfig
from suckit_spark.oracle import crawl_oracle
from suckit_spark.plans.crawl import CrawlAbort, crawl
from suckit_spark.sources import fixtures


def run_both(spark, cfg_kwargs, rows=None, origin="http://0.0.0.0/"):
    cfg = CrawlConfig(origin=origin, continue_on_error=True, **cfg_kwargs)
    rows = rows if rows is not None else fixtures.site_a()
    oracle = crawl_oracle(cfg, fixtures.pages_dict(rows))
    result = crawl(spark, cfg, fixtures.pages_df(spark, rows))
    return oracle, result


def assert_parity(oracle, result):
    # (i)+(ii) mirror tree and bytes — later supersteps overwrite (disk order)
    mirror_rows = result.mirror.orderBy("superstep").collect()
    spark_files = {}
    for r in mirror_rows:
        key = r.filename if r.filename else r.path
        spark_files[posixpath.normpath(key)] = bytes(r.content)
    oracle_files = {posixpath.normpath(p): c for p, c in oracle.files.items()}
    oracle_files.update(
        {posixpath.normpath(p): oracle.files[p] for p in oracle.files})
    assert set(spark_files) == set(oracle_files)
    for p, content in oracle_files.items():
        assert spark_files[p] == content, f"bytes differ for {p}"

    # symlink targets (normalized — doubled slashes collapse on disk)
    spark_links = {
        posixpath.normpath(r.path): r.symlink_target
        for r in mirror_rows if r.symlink_target
    }
    oracle_links = {posixpath.normpath(p): t for p, t in oracle.symlinks.items()}
    assert spark_links == oracle_links

    # (iii) URL-seen set (fragment-inclusive path_map keys)
    spark_seen = {r.url for r in result.seen.collect()}
    assert spark_seen == oracle.seen

    # (iv) canonical jobs=1 visit order
    log = result.crawl_log.orderBy("visit_seq").collect()
    assert [r.url for r in log] == oracle.visited
    assert [(r.url, r.depth, r.ext_depth, r.downloaded, r.status) for r in log] \
        == oracle.log


SCENARIOS = [
    pytest.param({}, id="plain_defaults"),
    pytest.param({"include_visit": "mp[3-4]"}, id="visit_include"),
    pytest.param({"include_visit": r"(mp[3-4])|(txt)"}, id="visit_include_multi"),
    pytest.param({"exclude_visit": "jpe?g"}, id="visit_exclude"),
    pytest.param({"include_download": "mp[3-4]"}, id="download_include"),
    pytest.param({"exclude_download": "jpe?g"}, id="download_exclude"),
    pytest.param({"exclude_download": "no_download_no_visit.html",
                  "visit_filter_is_download_filter": True}, id="visit_is_download"),
    pytest.param({"depth": 0, "ext_depth": 1}, id="ext_depth_one"),
    pytest.param({"depth": 0, "ext_depth": 0}, id="ext_depth_zero"),
    pytest.param({"depth": 1}, id="depth_one"),
    pytest.param({"dry_run": True}, id="dry_run"),
]


@pytest.mark.parametrize("cfg_kwargs", SCENARIOS)
def test_scenario_parity(spark, cfg_kwargs):
    oracle, result = run_both(spark, cfg_kwargs)
    assert_parity(oracle, result)


@pytest.mark.parametrize("auth,authed_rows", [
    (("username", "password", "example.com"), True),
    (("username", "password"), True),
    (("username", "wrong"), True),
], ids=["wrong_host", "origin_default", "wrong_password"])
def test_auth_parity(spark, auth, authed_rows):
    oracle, result = run_both(
        spark, {"auth": auth}, rows=fixtures.site_a(requires_auth=True))
    assert_parity(oracle, result)


@pytest.mark.parametrize("meta,header", [(True, False), (False, True),
                                         (False, False)])
def test_charset_parity(spark, meta, header):
    rows = fixtures.site_charset(meta, header)
    oracle, result = run_both(spark, {}, rows=rows,
                              origin="http://0.0.0.0/charset.html")
    assert_parity(oracle, result)
    # byte-identity contract directly (FIXTURES.md §3)
    saved = bytes(result.mirror.collect()[0].content)
    identical = meta or header
    assert (saved == rows[0]["html"]) is identical


def test_non_text_codec_charset_crawls_as_utf8(spark):
    """A page naming a bytes codec as its charset is crawled and mirrored as
    UTF-8 (encoding_rs knows no such label, scraper.rs:164-173) instead of
    failing the crawl's page stage."""
    index = ('<html><head><meta charset="base64"></head><body>café '
             '<a href="p.html">p</a></body></html>').encode("utf-8")
    rows = [
        fixtures._row("http://0.0.0.0/", index, "text/html"),
        fixtures._row("http://0.0.0.0/p.html", b"<html></html>", "text/html"),
    ]
    oracle, result = run_both(spark, {}, rows=rows)
    assert_parity(oracle, result)
    mirror = {r.path: bytes(r.content) for r in result.mirror.collect()}
    assert mirror["0.0.0.0/index.html"] == index
    assert len(mirror) == 2
    result.close()


def test_fragment_dedup_parity(spark):
    index = (b'<html><body><a href="p.html#a">1</a>'
             b'<a href="p.html#b">2</a><a href="p.html#a">3</a></body></html>')
    rows = [
        fixtures._row("http://0.0.0.0/", index, "text/html"),
        fixtures._row("http://0.0.0.0/p.html", b"<html></html>", "text/html"),
    ]
    oracle, result = run_both(spark, {}, rows=rows)
    assert_parity(oracle, result)


def test_content_disposition_parity(spark, tmp_path):
    oracle, result = run_both(spark, {}, rows=fixtures.site_disposition())
    assert_parity(oracle, result)
    # materialize and check the symlink on disk
    out = tmp_path / "mirror"
    result.materialize_mirror(str(out))
    assert (out / "named_track.mp3").read_bytes() == b"MP3DATA"
    link = out / "0.0.0.0" / "track.mp3"
    assert link.is_symlink()
    assert link.resolve().read_bytes() == b"MP3DATA"


def test_content_disposition_cannot_escape_mirror(spark, tmp_path):
    """A server-sent Content-Disposition name that is absolute or climbs out
    with ``..`` writes nothing outside the output dir: the page is saved at
    its canonical path, like a page sent with no filename."""
    abs_name = tmp_path / "abs" / "escape.bin"
    index = (b'<html><body><a href="up.bin">u</a>'
             b'<a href="abs.bin">a</a></body></html>')
    rows = [
        fixtures._row("http://0.0.0.0/", index, "text/html"),
        fixtures._row("http://0.0.0.0/up.bin", b"UP", "application/x-bin",
                      content_disposition="attachment; filename=../escape.bin"),
        fixtures._row("http://0.0.0.0/abs.bin", b"ABS", "application/x-bin",
                      content_disposition=f"attachment; filename={abs_name}"),
    ]
    oracle, result = run_both(spark, {}, rows=rows)
    out = tmp_path / "out"
    result.materialize_mirror(str(out))
    assert [p.name for p in tmp_path.iterdir()] == ["out"]
    for name, body in (("up.bin", b"UP"), ("abs.bin", b"ABS")):
        saved = out / "0.0.0.0" / name
        assert not saved.is_symlink()
        assert saved.read_bytes() == body
    assert_parity(oracle, result)
    result.close()


def test_error_abort(spark):
    rows = [r for r in fixtures.site_a() if r["url"] != "http://0.0.0.0/file.txt"]
    cfg = CrawlConfig(origin="http://0.0.0.0/")
    with pytest.raises(CrawlAbort):
        crawl(spark, cfg, fixtures.pages_df(spark, rows))


def test_error_continue_parity(spark):
    rows = [r for r in fixtures.site_a() if r["url"] != "http://0.0.0.0/file.txt"]
    oracle, result = run_both(spark, {}, rows=rows)
    assert_parity(oracle, result)


def test_extracted_text_contract(spark):
    """Byte-identical extracted text per url vs the pages table's text column
    (BASELINE.json:input_hint invariant)."""
    rows = fixtures.site_a()
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)
    result = crawl(spark, cfg, fixtures.pages_df(spark, rows))
    # join engine-extracted text back to the corpus text column
    got = {r.url: r for r in result.mirror.collect()}
    # page_text lives on the page-result; exposed through crawl_log? mirror has
    # content. Verify via a direct pipeline pass instead:
    from suckit_spark.operators.page_pipeline import process_page
    for row in rows:
        if row["content_type"] and "text/html" in row["content_type"]:
            res = process_page(cfg, row["url"], row["html"], row["content_type"])
            assert res["page_text"] == row["text"]


def test_stop_event_stops_at_superstep_boundary(spark):
    """A set stop_event ends the crawl after the next completed superstep
    (the graceful-SIGINT path the CLI wires up); the partial result is a
    valid resumable prefix, exactly like max_wall_sec."""
    import threading

    from suckit_spark.sources.fixtures import pages_df

    ev = threading.Event()
    ev.set()
    cfg = CrawlConfig(origin="http://0.0.0.0/", continue_on_error=True)
    res = crawl(spark, cfg, pages_df(spark, fixtures.site_a()),
                stop_event=ev)
    assert res.supersteps == 1  # at least one, then the boundary check fires
    full = crawl(spark, cfg, pages_df(spark, fixtures.site_a()))
    assert full.supersteps > 1
    # the interrupted crawl's log is a prefix of the full crawl's
    part_log = [r.url for r in res.crawl_log.orderBy("visit_seq").collect()]
    full_log = [r.url for r in full.crawl_log.orderBy("visit_seq").collect()]
    assert part_log == full_log[:len(part_log)]
    res.close()
    full.close()

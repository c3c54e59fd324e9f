"""Single-threaded pure-Python oracle: a literal transcription of the
reference's jobs=1 crawl loop (/root/reference/src/scraper.rs:230-335).

Used only by tests: the Spark engine's mirror tree, saved bytes, URL-seen set
and visit order must match this oracle exactly (SURVEY.md §5.3 Track A). The
per-page transformation is shared with the engine (operators.page_pipeline.
process_page), so the oracle pins the *loop semantics* — FIFO order, dedup,
depth gates, download gating, error policy — while the shared kernel pins the
byte-level page semantics.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from .config import INFINITE_DEPTH, CrawlConfig
from .functions import htmlkit, urlkit
from .operators.page_pipeline import fetch_result, process_page


class CrawlAbort(RuntimeError):
    """Reference error!() macro: log + abort (logger.rs:30-43)."""


@dataclass
class OracleResult:
    #: path -> bytes, in write order (later writes overwrite, as on disk)
    files: dict[str, bytes] = field(default_factory=dict)
    #: symlink path -> relative target
    symlinks: dict[str, str] = field(default_factory=dict)
    #: path_map keys: every discovered URL incl. fragment (scraper.rs:44)
    seen: set[str] = field(default_factory=set)
    #: visited_urls, in visit order: (url, depth, ext_depth, downloaded, status)
    log: list[tuple[str, int, int, bool, str]] = field(default_factory=list)

    @property
    def visited(self) -> list[str]:
        return [r[0] for r in self.log]


def crawl_oracle(cfg: CrawlConfig, pages: dict[str, dict]) -> OracleResult:
    """Run the reference crawl over an in-memory pages corpus.

    ``pages`` maps fragment-free canonical URL -> row dict with keys html,
    content_type, content_disposition, requires_auth, auth_user, auth_pass,
    status (same columns as schemas.PAGES_SCHEMA).
    """
    res = OracleResult()
    queue: deque[tuple[str, int, int]] = deque()

    path_map: dict[str, str] = {}

    def map_url_path(url: str, path: str) -> bool:
        if url not in path_map:
            path_map[url] = path
            return True
        return False

    origin = cfg.origin
    map_url_path(origin, urlkit.to_path(origin, False))
    queue.append((origin, 0, 0))

    while queue:
        url, depth, ext_depth = queue.popleft()
        download = cfg.download_ok(url)

        fetch_url = urlkit.strip_fragment(url)
        row = dict(pages.get(fetch_url) or {})
        row["found"] = fetch_url in pages
        row["fetch_url"] = fetch_url
        body, ctype, http_status, found = fetch_result(cfg, row)

        if not found:
            if not cfg.continue_on_error:
                raise CrawlAbort(f"Couldn't download a page: {url}")
            res.log.append((url, depth, ext_depth, download, "error"))
            res.seen.update(path_map)
            continue

        page = process_page(cfg, url, bytes(body), ctype)

        for link in page["links"]:
            full = link["url"]
            path_with_frag = urlkit.to_path(full, True)
            path_no_frag = urlkit.to_path(full, False)
            if map_url_path(full, path_no_frag):
                if not link["external"]:
                    if cfg.depth == INFINITE_DEPTH or depth < cfg.depth:
                        queue.append((full, depth + 1, ext_depth))
                else:
                    if cfg.ext_depth == INFINITE_DEPTH or ext_depth < cfg.ext_depth:
                        queue.append((full, depth, ext_depth + 1))
            # fix_domtree already applied inside process_page for every
            # passing candidate (scraper.rs:218).
            del path_with_frag

        path = path_map[url]
        if not cfg.dry_run and download:
            filename = htmlkit.content_disposition_filename(
                row.get("content_disposition"))
            if page["kind"] == "other" and filename is not None:
                res.files[filename] = page["content"]
                res.symlinks[path] = urlkit.relative_link(path, filename)
            else:
                res.files[path] = page["content"]

        res.log.append((url, depth, ext_depth, download, "ok"))

    res.seen = set(path_map)
    return res

"""HTML link extraction, in-place link rewriting, charset handling, text extraction.

From-scratch, stdlib-only (``html.parser``) implementations of the per-page
transformations the reference performs with html5ever/kuchiki + encoding_rs
(/root/reference/src/dom.rs, scraper.rs:104-228, downloader.rs:89-147).

Design difference from the reference, on purpose: instead of parse -> mutate DOM
-> re-serialize (which normalizes markup), we locate the exact byte spans of
``src``/``href`` attribute values with a position-tracking tokenizer and splice
replacements in place. Output bytes are identical to the input everywhere except
rewritten attribute values. This is strictly stronger than the reference's
round-trip guarantee (its charset fixtures pass byte-identity only because those
pages contain no links) and it is the cheap path for Arrow-vectorized execution:
no tree materialization per page.
"""

from __future__ import annotations

import codecs
import html as _html
import re
from html.parser import HTMLParser

#: Attributes harvested per element, in this order (dom.rs:7-8: CSS selector
#: "[src],[href]", attribute order ["src", "href"], document order).
LINK_ATTRIBUTES = ("src", "href")

# Attribute lexer over the raw text of one start tag. Mirrors the HTML spec's
# attribute syntax: name, optionally = and a double-quoted / single-quoted /
# unquoted value.
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)"""  # attribute name
    r"""(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?"""  # optional value
)

# Charset sniffing regexes — byte-compatible transcriptions of the reference's
# (scraper.rs:109-110 for the <meta> probe, downloader.rs:126-128 for the
# Content-Type header). Rust regex and Python re agree on these patterns
# (greedy backtracking, '.' does not cross newlines).
META_CHARSET_RE = re.compile(r"""<meta.*charset\s*=\s*["']?([^"'\s;>]+).*>""")
HEADER_CHARSET_RE = re.compile(r"""^.*charset\s*=\s*["']?([^"'\s;]+).*$""")
DATA_TYPE_RE = re.compile(r"""^.*(\b[a-z]+/[a-z-+\.]+).*$""")

#: WHATWG encoding label -> Python codec name, for the labels that matter in
#: practice (the reference resolves labels via encoding_rs::Encoding::for_label).
#: Note WHATWG maps latin1/iso-8859-1/ascii to windows-1252.
_WHATWG_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1250": "cp1250", "windows-1251": "cp1251",
    "windows-1252": "cp1252", "windows-1253": "cp1253",
    "windows-1254": "cp1254", "windows-1255": "cp1255",
    "windows-1256": "cp1256", "windows-1257": "cp1257",
    "windows-1258": "cp1258",
    "latin1": "cp1252", "latin-1": "cp1252", "iso-8859-1": "cp1252",
    "iso8859-1": "cp1252", "ascii": "cp1252", "us-ascii": "cp1252",
    "l1": "cp1252", "cp1252": "cp1252", "x-cp1252": "cp1252",
    "iso-8859-2": "iso8859-2", "iso-8859-15": "iso8859-15",
    "koi8-r": "koi8-r", "koi8-u": "koi8-u",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc-jp", "euc-kr": "euc-kr",
    "gbk": "gbk", "gb2312": "gbk", "gb18030": "gb18030", "big5": "big5",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


#: Python text codecs that are no page charset: each raises on page bytes
#: even with errors="replace" (encoding_rs knows none of them).
_NOT_CHARSETS = frozenset({"idna", "punycode", "undefined"})


def resolve_charset_label(label: str) -> str | None:
    """WHATWG-ish label resolution; None when unsupported (reference warns and
    falls back to UTF-8, scraper.rs:164-173). A label naming a bytes-to-bytes
    or text-to-text codec (``base64``, ``hex``, ``rot13``, ``zlib``, ...) or
    one of :data:`_NOT_CHARSETS` is unsupported, not a page-stage crash."""
    codec = _WHATWG_LABELS.get(label.strip().lower())
    if codec is None:
        try:
            info = codecs.lookup(label)
        except (LookupError, TypeError):
            return None
        if not info._is_text_encoding or info.name in _NOT_CHARSETS:
            return None
        return label
    return codec


def find_charset(data: bytes, http_charset: str | None) -> str | None:
    """First <meta ... charset=X ...> match over the raw bytes (read byte-
    transparently), lowercased; falls back to the HTTP-header charset
    (scraper.rs:104-123)."""
    text = data.decode("latin-1")
    m = META_CHARSET_RE.search(text)
    if m:
        return m.group(1).lower()
    return http_charset


def header_charset(content_type: str | None) -> str | None:
    if not content_type:
        return None
    m = HEADER_CHARSET_RE.match(content_type)
    return m.group(1).lower() if m else None


def header_data_type(content_type: str | None) -> str:
    """Content-Type -> mime type; defaults to text/html when the header is
    missing or unmatched (downloader.rs:124-147)."""
    if not content_type:
        return "text/html"
    m = DATA_TYPE_RE.match(content_type)
    return m.group(1).lower() if m else "text/html"


def is_html_type(data_type: str) -> bool:
    return "text/html" in data_type


def content_disposition_filename(value: str | None) -> str | None:
    """Substring after the first '=' (downloader.rs:95-104). A name that is
    empty, absolute or has a ``..`` component is not a file inside the
    mirror, so it is no filename: ``None``, and the page is stored at its
    own path."""
    if value is None:
        return None
    idx = value.find("=")
    if idx < 0:
        return None
    name = value[idx + 1 :]
    if not name or name.startswith("/") or ".." in name.split("/"):
        return None
    return name


def needs_charset_conversion(charset: str) -> bool:
    return charset != "utf-8"


def decode_html(data: bytes, charset_label: str) -> str:
    """Decode page bytes to text with WHATWG label resolution; malformed bytes
    become U+FFFD (encoding_rs behavior, scraper.rs:125-137)."""
    codec = resolve_charset_label(charset_label) or "utf-8"
    return data.decode(codec, errors="replace")


def decode_page(body: bytes, content_type: str | None = None,
                charset: str | None = None) -> tuple[str, str]:
    """Page bytes -> ``(charset, text)``: the crawl's one decode, shared by
    every place page bytes become text. The charset is the first
    ``<meta charset>``, else the Content-Type header's, else ``utf-8``
    (scraper.rs:104-123); a caller that already knows it (a mirrored page's
    stored charset) passes ``charset`` and skips the sniff. An undeclared
    page decodes as lossy UTF-8 (scraper.rs:181) — what makes such pages
    round-trip lossily (charset_*_not_found.rs negative controls)."""
    if charset is None:
        charset = find_charset(body, header_charset(content_type)) or "utf-8"
    return charset, decode_html(body, charset)


def encode_html(text: str, charset_label: str) -> bytes:
    """Re-encode to the original charset; unmappable characters become HTML
    numeric character references, matching encoding_rs::Encoding::encode."""
    codec = resolve_charset_label(charset_label) or "utf-8"
    return text.encode(codec, errors="xmlcharrefreplace")


class _SpanScanner(HTMLParser):
    """Position-tracking tokenizer that records, for every start tag in
    document order, the absolute spans of its src/href attribute values."""

    def __init__(self, text: str):
        super().__init__(convert_charrefs=True)
        self._text = text
        # Absolute offset of the start of each line (for getpos -> offset).
        # C-speed newline scan — a per-character Python loop here costs more
        # than the parse itself on large pages.
        self._line_starts = [0] + [m.end() for m in re.finditer("\n", text)]
        #: list of (attr, raw_value, unescaped_value, abs_start, abs_end)
        self.links: list[tuple[str, str, str, int, int]] = []
        self.text_chunks: list[str] = []
        self._skip_data = 0  # inside <script>/<style>

    def _abs(self, lineno: int, col: int) -> int:
        return self._line_starts[lineno - 1] + col

    def _record(self, raw_tag: str, tag_abs_start: int) -> None:
        # Lex attributes out of the raw tag text; first occurrence of each of
        # src/href wins (html5ever also keeps the first duplicate attribute).
        found: dict[str, tuple[str, int, int]] = {}
        # Skip "<name" prefix before scanning attributes.
        m = re.match(r"<\s*[a-zA-Z][^\s/>]*", raw_tag)
        pos = m.end() if m else 1
        for am in _ATTR_RE.finditer(raw_tag, pos):
            name = am.group(1).lower()
            if name in LINK_ATTRIBUTES and name not in found:
                for g in (2, 3, 4):
                    if am.group(g) is not None:
                        found[name] = (am.group(g), am.start(g), am.end(g))
                        break
                else:
                    # Valueless attribute (e.g. bare ``download``): html5ever
                    # sees value "" — the reference would then treat it as a
                    # link candidate with an empty URL. An empty raw value has
                    # a zero-width span right before the attr name end.
                    found[name] = ("", am.end(1), am.end(1))
        for attr in LINK_ATTRIBUTES:
            if attr in found:
                raw, s, e = found[attr]
                self.links.append(
                    (attr, raw, _html.unescape(raw),
                     tag_abs_start + s, tag_abs_start + e)
                )

    def handle_starttag(self, tag, attrs):
        raw = self.get_starttag_text()
        if raw is None:
            return
        start = self._abs(*self.getpos())
        self._record(raw, start)
        if tag in ("script", "style"):
            self._skip_data += 1

    def handle_startendtag(self, tag, attrs):
        raw = self.get_starttag_text()
        if raw is None:
            return
        self._record(raw, self._abs(*self.getpos()))

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self._skip_data:
            self._skip_data -= 1

    def handle_data(self, data):
        if not self._skip_data:
            self.text_chunks.append(data)


def scan_page(text: str):
    """ONE parser pass producing both link spans and visible text.

    The hot path (page pipeline P4 + the text-extraction contract) needs both;
    ``_SpanScanner`` already collects both in a single ``feed``, so parsing
    twice — once for links, once for text — would double the dominant cost of
    the per-page stage. Returns ``(links, text)`` with links as in
    :func:`scan_links`."""
    scanner = _SpanScanner(text)
    try:
        scanner.feed(text)
        scanner.close()
    except Exception:
        pass  # tolerate malformed tails; spans found so far remain valid
    links = [
        {"attr": a, "raw": r, "value": v, "start": s, "end": e}
        for (a, r, v, s, e) in scanner.links
    ]
    return links, "".join(scanner.text_chunks)


def scan_links(text: str):
    """All src/href attribute values in document order.

    Returns a list of dicts: {attr, raw, value, start, end} where [start, end)
    is the value's span in ``text`` and ``value`` is the entity-unescaped form
    (what kuchiki's attribute map holds, dom.rs:34-53)."""
    return scan_page(text)[0]


def splice(text: str, replacements: list[tuple[int, int, str]]) -> str:
    """Apply (start, end, new_value) span replacements. New values are entity-
    escaped (&, <, >) the way an HTML serializer would emit attribute values."""
    if not replacements:
        return text
    out = []
    last = 0
    for start, end, new in sorted(replacements, key=lambda t: t[0]):
        out.append(text[last:start])
        out.append(new.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))
        last = end
    out.append(text[last:])
    return "".join(out)


def extract_text(text: str) -> str:
    """Deterministic visible-text extraction: character data outside
    script/style, concatenated in document order. This defines the engine's
    ``text`` column contract (byte-identical per url, BASELINE.json:input_hint)."""
    return scan_page(text)[1]

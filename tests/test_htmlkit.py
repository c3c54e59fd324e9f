"""HTML kit unit tests: link extraction order (dom.rs:56-76), charset regexes
(scraper.rs:467-489), header parsing (downloader.rs:89-147), span splicing."""

import pytest

from suckit_spark.functions import htmlkit


def test_find_urls_document_order():
    # dom.rs:66-75 golden vector
    url1 = ("https://upload.wikimedia.org/wikipedia/commons/thumb/3/34/"
            "Anser_anser_1_%28Piotr_Kuczynski%29.jpg/800px-Anser_anser_1_"
            "%28Piotr_Kuczynski%29.jpg")
    html = f"<img src={url1}>\n            <img src=test>"
    links = htmlkit.scan_links(html)
    assert [l["value"] for l in links] == [url1, "test"]


def test_src_before_href_same_node():
    links = htmlkit.scan_links('<x href="b" src="a">')
    assert [l["value"] for l in links] == ["a", "b"]  # src first (dom.rs:8)


def test_quoted_and_unquoted_values():
    html = "<a href='single.html'>x</a><a href=unquoted.html>y</a>" \
           '<a href="double.html">z</a>'
    assert [l["value"] for l in htmlkit.scan_links(html)] == [
        "single.html", "unquoted.html", "double.html"]


def test_entities_unescaped_in_value():
    links = htmlkit.scan_links('<a href="a&amp;b.html">x</a>')
    assert links[0]["value"] == "a&b.html"
    assert links[0]["raw"] == "a&amp;b.html"


def test_script_and_comments_skipped():
    html = ('<script>var a = \'<a href="fake.html">\';</script>'
            '<!-- <a href="c.html"> --><a href="real.html">x</a>')
    assert [l["value"] for l in htmlkit.scan_links(html)] == ["real.html"]


def test_splice_preserves_everything_else():
    html = '<a href="old.html">x</a> tail'
    links = htmlkit.scan_links(html)
    out = htmlkit.splice(html, [(links[0]["start"], links[0]["end"], "new.html")])
    assert out == '<a href="new.html">x</a> tail'


def test_splice_escapes_replacement():
    html = '<a href="old">x</a>'
    links = htmlkit.scan_links(html)
    out = htmlkit.splice(html, [(links[0]["start"], links[0]["end"], "a&b")])
    assert out == '<a href="a&amp;b">x</a>'


def test_charset_meta_regex_double_quotes():
    # scraper.rs:467-477
    assert htmlkit.find_charset(b'<meta charset="UTF-8">', None) == "utf-8"
    assert htmlkit.find_charset(b'<meta charset="windows-1252">', None) == \
        "windows-1252"


def test_charset_meta_regex_single_quotes():
    assert htmlkit.find_charset(b"<meta charset='UTF-8'>", None) == "utf-8"
    assert htmlkit.find_charset(b"<meta charset='windows-1252'>", None) == \
        "windows-1252"


def test_charset_http_fallback():
    assert htmlkit.find_charset(b"<html></html>", "windows-1252") == "windows-1252"
    assert htmlkit.find_charset(b"<html></html>", None) is None
    # meta wins over the header charset
    assert htmlkit.find_charset(b'<meta charset="utf-8">', "windows-1252") == "utf-8"


def test_charset_meta_http_equiv_form():
    body = (b'<meta content="text/html; charset=windows-1252" '
            b'http-equiv="Content-Type">')
    assert htmlkit.find_charset(body, None) == "windows-1252"


def test_header_parsing():
    assert htmlkit.header_data_type("text/html; charset=utf-8") == "text/html"
    assert htmlkit.header_data_type("audio/mpeg") == "audio/mpeg"
    assert htmlkit.header_data_type(None) == "text/html"        # default
    assert htmlkit.header_data_type("garbage") == "text/html"   # unmatched
    assert htmlkit.header_charset("text/html; charset=Windows-1252") == \
        "windows-1252"
    assert htmlkit.header_charset("text/html") is None
    assert htmlkit.is_html_type("text/html")
    assert not htmlkit.is_html_type("text/plain")


def test_content_disposition_filename():
    assert htmlkit.content_disposition_filename(
        "attachment; filename=x.mp3") == "x.mp3"
    assert htmlkit.content_disposition_filename(None) is None
    # a name that is no file inside the mirror is no filename
    for name in ("../escape.bin", "/tmp/abs/escape.bin", ""):
        assert htmlkit.content_disposition_filename(
            f"attachment; filename={name}") is None
    assert htmlkit.content_disposition_filename(
        "attachment; filename=sub/x..y.mp3") == "sub/x..y.mp3"


def test_charset_round_trip_windows_1252():
    body = "Gamle Valebø kirke. Arbeid pågår.".encode("cp1252")
    text = htmlkit.decode_html(body, "windows-1252")
    assert htmlkit.encode_html(text, "windows-1252") == body


def test_whatwg_label_latin1_is_cp1252():
    assert htmlkit.resolve_charset_label("latin1") == "cp1252"
    assert htmlkit.resolve_charset_label("ISO-8859-1") == "cp1252"
    assert htmlkit.resolve_charset_label("bogus-charset") is None


def test_extract_text():
    html = "<html><head><title>T</title><script>s()</script></head>" \
           "<body>Hello <b>world</b></body></html>"
    assert htmlkit.extract_text(html) == "THello world"


#: Labels Python's codec registry knows but no page charset is: bytes-to-
#: bytes and text-to-text codecs, plus idna/punycode/undefined, which raise
#: on page bytes even with errors="replace". encoding_rs knows none of them
#: and falls back to UTF-8 (scraper.rs:164-173).
NON_CHARSET_LABELS = ["base64", "hex", "rot13", "zlib", "bz2", "uu",
                      "quopri", "idna", "punycode", "undefined"]


@pytest.mark.parametrize("label", NON_CHARSET_LABELS)
def test_non_charset_codec_label_is_unsupported(label):
    assert htmlkit.resolve_charset_label(label) is None
    body = f'<meta charset="{label}"><p>café</p>'.encode("utf-8")
    assert htmlkit.decode_html(body, label) == body.decode("utf-8")
    assert htmlkit.encode_html("café", label) == "café".encode("utf-8")


@pytest.mark.parametrize("body,content_type,charset,want", [
    # undeclared: lossy UTF-8 (scraper.rs:181)
    (b"<p>caf\xc3\xa9 \xff</p>", None, None,
     ("utf-8", "<p>café \ufffd</p>")),
    # Content-Type header charset; WHATWG maps iso-8859-1 to windows-1252
    (b"<p>caf\xe9 \x80</p>", "text/html; charset=ISO-8859-1", None,
     ("iso-8859-1", "<p>café €</p>")),
    # <meta> wins over the header
    (b'<meta charset="utf-8"><p>caf\xc3\xa9</p>',
     "text/html; charset=windows-1252", None,
     ("utf-8", '<meta charset="utf-8"><p>café</p>')),
    # a known charset skips the sniff
    (b'<meta charset="utf-8"><p>caf\xe9</p>', None, "windows-1252",
     ("windows-1252", '<meta charset="utf-8"><p>café</p>')),
    # a non-text codec decodes as UTF-8, the label is kept
    (b'<meta charset="base64"><p>caf\xc3\xa9</p>', None, None,
     ("base64", '<meta charset="base64"><p>café</p>')),
])
def test_decode_page_golden(body, content_type, charset, want):
    assert htmlkit.decode_page(body, content_type, charset) == want

"""HTML → span-stream kernel (pure Python, stdlib ``html.parser`` only).

The north rule requires HTML main-content extraction — DOM tokenization,
boilerplate stripping via text-density AND tag-depth heuristics, media
re-threading — which the reference (markdown-only) never implements.  These
semantics are therefore OURS to define and freeze (SURVEY.md H9 note):
the heuristics below follow the published Boilerpipe/jusText family
(link-density, structural-tag ancestry, text density) and are pinned by the
golden fixtures + tests, exactly like the markdown kernel.

Span conventions (shared with scanner.py):
  * kind ∈ {text, heading, table, media, caption, boilerplate};
  * ``offset`` = block emission index in document order (HTML has no
    meaningful source lines — the stream position generalizes line_start);
  * a <table> is ONE span whose text is the canonical markdown
    serialization (so every downstream table-span consumer — sink-dialect
    reparse, merged-span inference, export — works unchanged), plus a
    structured table via the SAME H1–H8 heuristics as markdown.

Boilerplate rules (frozen):
  * inside <nav>/<header>/<footer>/<aside> → boilerplate (structural tags);
  * link density ≥ 0.8 (chars under <a> / block chars) → boilerplate;
  * tag depth at block start > 12 → boilerplate (decoration wrappers);
  * text density < 0.35 (scanner._DENSITY_MIN) → boilerplate;
  * <script>/<style>/comments are dropped outright (code, not content).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Any, Dict, List, Optional, Tuple

from .normalize import normalize_scripts
from .scanner import _DENSITY_MIN, Span, text_density
from .structure import document_to_dicts, extract_tables_columns

_BOILER_ANCESTORS = frozenset({"nav", "header", "footer", "aside"})
_DROP_TAGS = frozenset({"script", "style", "title"})  # title = head metadata
# HTML void elements (the WHATWG list): no end tag ever arrives, so they
# must not contribute to tag depth — a bare <br>/<img>/<hr> stream would
# otherwise drift _depth upward until every later block trips the
# MAX_CONTENT_DEPTH boilerplate rule (a <br>-heavy page is all-boilerplate).
_VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)
_BLOCK_TAGS = frozenset(
    {"p", "div", "li", "section", "article", "main", "ul", "ol", "blockquote",
     "tr", "td", "th", "table", "caption", "body", "html", "figure", "figcaption"}
)
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_WS_RX = re.compile(r"\s+")


def _collapse_ws(s: str) -> str:
    """``_WS_RX.sub(" ", s).strip()`` with a fast path: 97% of flushed
    chunks/cells in the measured corpus contain no collapsible whitespace
    (r05 profile — the sub was 8.8% of the single-thread HTML parse), and
    for those ``strip()`` alone is output-identical.  The precheck is exact:
    ascii-only (``\\s`` is unicode-aware — a \\xa0 must reach the regex),
    none of the ascii whitespace chars the sub would rewrite, and no
    double-space run (lone interior spaces are already canonical; edge
    spaces are strip()'s job either way)."""
    if (
        s.isascii()
        and "\t" not in s
        and "\n" not in s
        and "\r" not in s
        and "\x0b" not in s
        and "\x0c" not in s
        and "  " not in s
    ):
        return s.strip()
    return _WS_RX.sub(" ", s).strip()


MAX_CONTENT_DEPTH = 12
LINK_DENSITY_MAX = 0.8

_HTML_SNIFF_RX = re.compile(
    r"(?is)^\s*<(?:!doctype|html|head|body|div|p[\s>]|h[1-6]|table|section|"
    r"article|nav|ul|ol|main|header|footer)"
)


def looks_like_html(text: str) -> bool:
    """Dispatch sniff: the document starts with a structural HTML tag.
    Markdown docs (even ones with inline ``<br>`` cells) never do."""
    return bool(_HTML_SNIFF_RX.match(text or ""))


class _DomScanner(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.spans: List[Span] = []
        self.raw_tables: List[Dict[str, Any]] = []
        self._chunks: List[str] = []
        self._chunk_depth = 0
        self._chunk_boiler = False
        self._link_chars = 0
        self._depth = 0
        self._boiler_depth = 0   # nesting inside _BOILER_ANCESTORS
        self._drop_depth = 0     # nesting inside script/style
        self._link_depth = 0
        self._last_heading: Optional[str] = None
        # table state
        self._table_rows: Optional[List[List[str]]] = None
        self._table_depth = 0  # nested <table> flatten: inner rows join outer
        self._row: Optional[List[str]] = None
        self._cell: Optional[List[str]] = None
        self._caption: Optional[List[str]] = None

    # --- emission ------------------------------------------------------------

    def _offset(self) -> int:
        return len(self.spans)

    def _flush_text(self, heading: Optional[str] = None) -> None:
        # hot path: flush fires on EVERY block boundary, and most flushes
        # carry nothing or only inter-tag whitespace (handle_data appends
        # raw data chunks, including '\n' between tags) — skip the
        # regex/normalize pipeline for both. A whitespace-only chunk
        # normalizes to "" (sub→" ", strip→""), so returning early after
        # the same state resets is output-identical.
        if not self._chunks:
            self._link_chars = 0
            self._chunk_boiler = False
            return
        joined = "".join(self._chunks)
        stripped = joined.strip()
        link_chars = self._link_chars
        depth = self._chunk_depth
        boiler = self._chunk_boiler
        self._chunks, self._link_chars = [], 0
        self._chunk_boiler = False
        if not stripped:
            return
        text = normalize_scripts(_collapse_ws(joined))
        chunk_chars = len(stripped)
        if not text:
            return
        if heading is not None:
            self.spans.append(
                {"kind": "heading", "text": text, "media_ref": None, "offset": self._offset()}
            )
            self._last_heading = text
            return
        is_boiler = (
            boiler
            or depth > MAX_CONTENT_DEPTH
            or (chunk_chars > 0 and link_chars / chunk_chars >= LINK_DENSITY_MAX)
            or text_density(text) < _DENSITY_MIN
        )
        self.spans.append(
            {
                "kind": "boilerplate" if is_boiler else "text",
                "text": text,
                "media_ref": None,
                "offset": self._offset(),
            }
        )

    def _emit_table(self) -> None:
        rows = [r for r in (self._table_rows or []) if any(c.strip() for c in r)]
        caption = normalize_scripts(_collapse_ws("".join(self._caption or [])))
        self._table_rows, self._row, self._cell, self._caption = None, None, None, None
        if len(rows) < 2:
            return
        width = max(len(r) for r in rows)
        padded = [[c.strip() for c in r] + [""] * (width - len(r)) for r in rows]
        title = caption or (self._last_heading or "")
        raw = {
            "headers": padded[0],
            "rows": padded[1:],
            "title": title,
            "line_start": self._offset(),
            "line_end": self._offset(),
        }
        self.raw_tables.append(raw)
        serialized = "\n".join(
            ["| " + " | ".join(padded[0]) + " |", "|" + "---|" * width]
            + ["| " + " | ".join(r) + " |" for r in padded[1:]]
        )
        self.spans.append(
            {"kind": "table", "text": serialized, "media_ref": None, "offset": self._offset()}
        )

    # --- HTMLParser hooks ------------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag not in _VOID_TAGS:
            self._depth += 1
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if tag in _BOILER_ANCESTORS:
            self._flush_text()
            self._boiler_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        if tag == "img":
            src = dict(attrs).get("src")
            if src:
                self._flush_text()
                self.spans.append(
                    {"kind": "media", "text": "", "media_ref": src, "offset": self._offset()}
                )
            return
        if tag == "br":
            target = self._cell if self._cell is not None else self._chunks
            target.append("\n")
            return
        if tag == "table":
            if self._table_rows is None:
                self._flush_text()
                self._table_rows = []
                self._table_depth = 1
            else:
                # nested table: frozen flatten rule — the outer row in
                # progress closes (its cells so far become one grid row) and
                # the inner rows join the outer grid as rows of their own
                self._table_depth += 1
                if self._cell is not None and self._row is not None:
                    self._row.append(_collapse_ws("".join(self._cell)))
                    self._cell = None
                if self._row:
                    self._table_rows.append(self._row)
                self._row = None
            return
        if self._table_rows is not None:
            if tag == "tr":
                self._row = []
            elif tag in ("td", "th"):
                self._cell = []
            elif tag == "caption":
                self._caption = []
            return
        if tag in _HEADING_TAGS or tag in _BLOCK_TAGS:
            self._flush_text()
            self._chunk_depth = self._depth

    def handle_startendtag(self, tag: str, attrs) -> None:
        # a self-closing tag must undo EVERY counter handle_starttag bumped,
        # not just _depth: a leaked _drop_depth from <script/> silently drops
        # every later span, a leaked _boiler_depth from <nav/> marks all
        # later real content boilerplate, a leaked _link_depth skews
        # link-density
        self.handle_starttag(tag, attrs)
        if tag not in _VOID_TAGS:
            self._depth -= 1
        if tag in _DROP_TAGS:
            self._drop_depth = max(self._drop_depth - 1, 0)
        elif tag in _BOILER_ANCESTORS:
            self._flush_text()
            self._boiler_depth = max(self._boiler_depth - 1, 0)
        elif tag == "a":
            self._link_depth = max(self._link_depth - 1, 0)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return  # never opened depth (spurious </br>/</img> in the wild)
        if tag in _DROP_TAGS:
            self._drop_depth = max(self._drop_depth - 1, 0)
            self._depth = max(self._depth - 1, 0)
            return
        if tag in _BOILER_ANCESTORS:
            self._flush_text()
            self._boiler_depth = max(self._boiler_depth - 1, 0)
            self._depth = max(self._depth - 1, 0)
            return
        if tag == "a":
            self._link_depth = max(self._link_depth - 1, 0)
        if self._table_rows is not None:
            if tag in ("td", "th") and self._cell is not None:
                self._row = self._row if self._row is not None else []
                self._row.append(_collapse_ws("".join(self._cell)))
                self._cell = None
            elif tag == "tr" and self._row is not None:
                self._table_rows.append(self._row)
                self._row = None
            elif tag == "caption":
                pass
            elif tag == "table":
                self._table_depth = max(self._table_depth - 1, 0)
                if self._table_depth == 0:
                    self._emit_table()
            self._depth = max(self._depth - 1, 0)
            return
        if tag in _HEADING_TAGS:
            self._flush_text(heading=tag)
        elif tag in _BLOCK_TAGS:
            self._flush_text()
        self._depth = max(self._depth - 1, 0)

    def updatepos(self, i: int, j: int) -> int:
        # _markupbase's line/offset bookkeeping exists only to serve
        # getpos(), which this scanner never calls — skipping the newline
        # count is ~8% of the DOM walk (measured; output byte-identical)
        return j

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        if self._cell is not None:
            self._cell.append(data)
            return
        if self._caption is not None:
            self._caption.append(data)
            return
        if self._table_rows is not None:
            return  # stray whitespace between table tags
        if not self._chunks:
            self._chunk_depth = self._depth
            self._chunk_boiler = self._boiler_depth > 0
        self._chunks.append(data)
        if self._link_depth:
            self._link_chars += len(data.strip())

    def close(self) -> None:  # final flush
        super().close()
        self._flush_text()
        if self._table_rows is not None:
            self._emit_table()


# --- fast tokenizer ----------------------------------------------------------
# stdlib HTMLParser spends ~84% of the HTML scan in its own dispatch machinery
# (goahead / check_for_whole_start_tag / per-attr loops), measured r04 profile.
# This tokenizer feeds the SAME _DomScanner handler methods the IDENTICAL
# event stream for well-formed markup, and returns False (→ caller re-runs the
# stdlib parser on a fresh scanner) the moment it sees anything whose stdlib
# recovery semantics are nontrivial: malformed/EOF-truncated tags, marked
# sections, unterminated comments/PIs/declarations, exotic attribute syntax.
# Event parity is replicated from CPython 3.11 html/parser.py goahead():
#   * convert_charrefs=True, non-cdata: data runs are raw[i:find('<',i)]
#     passed through html.unescape — one handle_data per run;
#   * start tags: handle_starttag/handle_startendtag with lowercased name;
#     attrs are only materialized for <img> (the one tag whose attrs the
#     scanner reads) with parse_starttag's quote-strip + unescape rules;
#   * script/style: cdata mode — data up to the full  </\s*tag\s*>  close
#     pattern (3.11 set_cdata_mode), NOT charref-converted; an unterminated
#     cdata body is swallowed with no data event (goahead end-branch parity);
#   * <!--…--> closes on  --\s*>  (_markupbase._commentclose); <!doctype …>
#     skips to '>'; other <!…> are bogus comments skipping to '>'; <?…>
#     skips to '>' — all handler no-ops for this scanner;
#   * a '<' that opens none of the above is emitted as a lone handle_data("<")
#     and scanning resumes one char later (goahead's invalid-'<' rule).
# Equality is gated per-corpus AND per-construct in tests/test_html_fast.py
# (fast vs stdlib event-for-event on every corpus + adversarial fragments).

_FAST_STARTTAG_RX = re.compile(
    r"<([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s\"'=<>`]+))?)*)"
    r"\s*(/?)>"
)
_FAST_ENDTAG_RX = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_FAST_ATTR_RX = re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'=<>`]+))?"
)
_FAST_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
_COMMENT_CLOSE_RX = re.compile(r"--\s*>")


def _img_attrs(attr_str: str) -> List[Tuple[str, Optional[str]]]:
    """parse_starttag's attr rules on a strict-shape attr block: lowercase
    names, strip balanced quotes, unescape non-empty values, None when the
    attribute has no '='."""
    attrs: List[Tuple[str, Optional[str]]] = []
    for m in _FAST_ATTR_RX.finditer(attr_str):
        value = m.group(2)
        if value is not None:
            if value[:1] in "\"'":
                value = value[1:-1]
            if value:
                value = unescape(value)
        attrs.append((m.group(1).lower(), value))
    return attrs


def _fast_feed(sc: _DomScanner, raw: str) -> bool:
    """Drive ``sc``'s handler methods over ``raw``; True = complete, False =
    bailed (caller must redo the whole document on a FRESH scanner via the
    stdlib parser — handlers may already have fired)."""
    pos, n = 0, len(raw)
    find = raw.find
    hd = sc.handle_data
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            hd(unescape(raw[pos:n]))
            return True
        if lt > pos:
            hd(unescape(raw[pos:lt]))
        nxt = raw[lt + 1 : lt + 2]
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":  # starttagopen is ASCII-only
            m = _FAST_STARTTAG_RX.match(raw, lt)
            if m is None:
                return False
            tag, attr_s, slash = m.group(1, 2, 3)
            tag = tag.lower()
            attrs = _img_attrs(attr_s) if tag == "img" else []
            pos = m.end()
            if slash:
                sc.handle_startendtag(tag, attrs)
                continue
            sc.handle_starttag(tag, attrs)
            if tag in _FAST_CDATA_CLOSE:
                cm = _FAST_CDATA_CLOSE[tag].search(raw, pos)
                if cm is None:
                    return True  # unterminated cdata: stdlib swallows it too
                if cm.start() > pos:
                    hd(raw[pos : cm.start()])  # cdata: no charref conversion
                sc.handle_endtag(tag)
                pos = cm.end()
        elif nxt == "/":
            m = _FAST_ENDTAG_RX.match(raw, lt)
            if m is None:
                return False
            sc.handle_endtag(m.group(1).lower())
            pos = m.end()
        elif nxt == "!":
            if raw.startswith("<!--", lt):
                cm = _COMMENT_CLOSE_RX.search(raw, lt + 4)
                if cm is None:
                    return False
                pos = cm.end()
            elif raw.startswith("<![", lt):
                return False  # marked section: stdlib recovery is nontrivial
            else:
                gt = find(">", lt + (9 if raw[lt : lt + 9].lower() == "<!doctype" else 2))
                if gt < 0:
                    return False
                pos = gt + 1
        elif nxt == "?":
            gt = find(">", lt + 2)
            if gt < 0:
                return False
            pos = gt + 1
        else:
            # goahead's invalid-'<' rule: lone data char, resume one later
            hd("<")
            pos = lt + 1
    return True


def scan_html(html_text: str) -> Tuple[List[Span], List[Dict[str, Any]]]:
    """One DOM walk: (spans, raw_tables) in document order — the HTML twin
    of scanner.scan_markdown.  Fast tokenizer first; stdlib HTMLParser on a
    fresh scanner when it bails (identical events either way)."""
    scanner = _DomScanner()
    if not _fast_feed(scanner, html_text):
        scanner = _DomScanner()
        scanner.feed(html_text)
    scanner.close()
    return scanner.spans, scanner.raw_tables


def parse_html_columns(text: str, source: str = "html") -> Dict[str, Any]:
    """Full per-document HTML parse, same output contract as
    pipeline.parse_document_columns: {"spans", "tables", "markdown"}, with
    table cells as parallel column lists for the Arrow batch builder."""
    spans, raw_tables = scan_html(text)
    markdown = "\n".join(s["text"] for s in spans if s["kind"] != "media")
    return {"spans": spans, "tables": extract_tables_columns(raw_tables, source), "markdown": markdown}


def parse_html_document(text: str, source: str = "html") -> Dict[str, Any]:
    """``parse_html_columns`` with dict-form tables (one dict per cell) —
    the shape pipeline.parse_document returns."""
    return document_to_dicts(parse_html_columns(text, source))

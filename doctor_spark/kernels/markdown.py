"""HTML → Markdown conversion from scratch (stdlib HTMLParser) — the
markdownify/trafilatura output mode modern training pipelines prefer
over plain text, because structure (headings, lists, tables, links,
code) carries signal a flat extraction throws away.

Deliberately small, deterministic dialect (GFM subset):

- h1..h6 → ``#``..``######`` lines
- p / div / section / article → paragraph breaks; br → hard line break
- ul/ol/li with nesting (two-space indent per level, ``-`` bullets,
  ``1.``-style ordinals restarting per list)
- blockquote → ``> `` prefix (nested quotes stack)
- pre → fenced code block (content verbatim, entities decoded, no
  inline markup); inline code → backticks
- b/strong → ``**``, i/em → ``*``, a → ``[text](href)``,
  img → ``![alt](src)``
- table/tr/th/td → GFM pipe table; the first row renders the
  ``|---|`` separator (th or td — crawl HTML often omits th)
- hr → ``---``
- script/style/head/noscript/template subtrees dropped entirely
- whitespace collapsed outside pre; ``* _ [ ] `` + backslash escaped
  in text runs so emitted text can't be re-parsed as markup

Error posture: tag soup never raises — unclosed tags close implicitly
at end-of-document, stray closers are ignored (HTMLParser's tolerant
stream model), so one hostile page degrades its own output, not the
Spark task.  The Spark-side operator wraps this in the usual Arrow
batch kernel.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_DROP = {"script", "style", "head", "noscript", "template"}
_BLOCK_BREAK = {"p", "div", "section", "article", "main", "aside",
                "header", "footer", "figure", "fieldset"}
_H = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_WS = re.compile(r"[ \t\r\n\f\v]+")
_ESC = re.compile(r"([\\*_`\[\]])")


class _MdParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []   # finished markdown blocks
        self.cur: list[str] = []      # inline fragments of current block
        self.drop = 0                 # depth inside dropped subtrees
        self.pre = 0                  # depth inside <pre>
        self.quote = 0                # blockquote nesting
        self.lists: list[dict] = []   # {ordered: bool, n: int}
        self.bold = 0
        self.ital = 0
        self.code = 0
        self.href: list[str] = []
        self.atext: list[list[str]] = []
        # table state
        self.table = 0
        self.rows: list[list[str]] = []
        self.cell: list[str] | None = None
        # block prefix (list marker + indent) applied AFTER whitespace
        # collapse — emitting it inline would be eaten by the collapse
        self.prefix = ""

    # ---------------------------------------------------------- block flush
    def _flush(self, force: bool = False) -> None:
        text = "".join(self.cur)
        self.cur = []
        if self.pre:
            body = text
            if body.strip("\n") or force:
                block = "```\n" + body.strip("\n") + "\n```"
                self.blocks.append(self._quoted(block))
            return
        # \x01 is the <br> hard-break sentinel: collapse each segment
        # independently, then rejoin with real newlines
        parts = [_WS.sub(" ", p).strip() for p in text.split("\x01")]
        text = "\n".join(p for p in parts if p)
        if text:
            self.blocks.append(self._quoted(self.prefix + text))
            self.prefix = ""

    def _quoted(self, block: str) -> str:
        if not self.quote:
            return block
        prefix = "> " * self.quote
        return "\n".join(prefix + ln if ln else prefix.rstrip()
                         for ln in block.split("\n"))

    def _emit(self, frag: str) -> None:
        if self.cell is not None:
            self.cell.append(frag)
        elif self.atext:
            self.atext[-1].append(frag)
        else:
            self.cur.append(frag)

    # --------------------------------------------------------------- tags
    def handle_starttag(self, tag, attrs):
        if self.drop:
            if tag in _DROP:
                self.drop += 1
            return
        if tag in _DROP:
            self.drop += 1
            return
        a = dict(attrs)
        if tag in _H:
            self._flush()
            self.cur.append("#" * _H[tag] + " ")
        elif tag in _BLOCK_BREAK:
            self._flush()
        elif tag == "br":
            self._emit("\x01")
        elif tag == "hr":
            self._flush()
            self.blocks.append(self._quoted("---"))
        elif tag == "pre":
            self._flush()
            self.pre += 1
        elif tag == "blockquote":
            self._flush()
            self.quote += 1
        elif tag in ("ul", "ol"):
            self._flush()
            self.lists.append({"ordered": tag == "ol", "n": 0})
        elif tag == "li":
            self._flush()
            depth = max(len(self.lists) - 1, 0)
            if self.lists and self.lists[-1]["ordered"]:
                self.lists[-1]["n"] += 1
                marker = f"{self.lists[-1]['n']}. "
            else:
                marker = "- "
            self.prefix = "  " * depth + marker
        elif tag in ("b", "strong"):
            self._emit("**")
            self.bold += 1
        elif tag in ("i", "em"):
            self._emit("*")
            self.ital += 1
        elif tag == "code":
            if not self.pre:
                self._emit("`")
                self.code += 1
        elif tag == "a":
            self.href.append(a.get("href") or "")
            self.atext.append([])
        elif tag == "img":
            alt = _WS.sub(" ", a.get("alt") or "").strip()
            src = a.get("src") or ""
            self._emit(f"![{alt}]({src})")
        elif tag == "table":
            self._flush()
            self.table += 1
            self.rows = []
        elif tag == "tr" and self.table:
            self.rows.append([])
        elif tag in ("td", "th") and self.table:
            self.cell = []

    def handle_startendtag(self, tag, attrs):
        if tag in ("br", "hr", "img"):
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if self.drop:
            if tag in _DROP:
                self.drop -= 1
            return
        if tag in _H or tag in _BLOCK_BREAK:
            self._flush()
        elif tag == "pre":
            if self.pre:
                self._flush(force=True)
                self.pre -= 1
        elif tag == "blockquote":
            self._flush()
            if self.quote:
                self.quote -= 1
        elif tag in ("ul", "ol"):
            self._flush()
            if self.lists:
                self.lists.pop()
        elif tag == "li":
            self._flush()
        elif tag in ("b", "strong"):
            if self.bold:
                self._emit("**")
                self.bold -= 1
        elif tag in ("i", "em"):
            if self.ital:
                self._emit("*")
                self.ital -= 1
        elif tag == "code":
            if self.code:
                self._emit("`")
                self.code -= 1
        elif tag == "a":
            if self.href:
                href = self.href.pop()
                label = _WS.sub(" ", "".join(self.atext.pop())).strip()
                self._emit(f"[{label}]({href})" if label or href else "")
        elif tag in ("td", "th") and self.table:
            if self.cell is not None:
                cell = _WS.sub(" ", "".join(self.cell)).strip()
                if self.rows:
                    self.rows[-1].append(cell)
                self.cell = None
        elif tag == "table":
            if self.table:
                self.table -= 1
                rows = [r for r in self.rows if r]
                if rows:
                    width = max(len(r) for r in rows)
                    lines = []
                    for i, r in enumerate(rows):
                        r = r + [""] * (width - len(r))
                        lines.append("| " + " | ".join(r) + " |")
                        if i == 0:
                            lines.append(
                                "|" + "|".join(" --- " for _ in range(width))
                                + "|"
                            )
                    self.blocks.append(self._quoted("\n".join(lines)))
                self.rows = []

    # --------------------------------------------------------------- text
    def handle_data(self, data):
        if self.drop:
            return
        if self.pre:
            self._emit(data)
        else:
            self._emit(_ESC.sub(r"\\\1", data))

    def finish(self) -> str:
        self._flush()
        return "\n\n".join(b for b in self.blocks if b)


def html_to_markdown(content: str) -> str:
    """Convert an HTML string to the markdown dialect above.  Never
    raises on tag soup."""
    p = _MdParser()
    try:
        p.feed(content)
        p.close()
    except Exception:
        pass  # HTMLParser is tolerant; belt-and-braces for exotic input
    return p.finish()


def markdown_udf():
    """Row-wise Arrow Spark kernel: html string column → markdown."""
    from ..arrow import row_udf

    def to_md(h):
        return html_to_markdown(h) if h else ""

    return row_udf(to_md, "string")

"""HTML -> (title, text, snippet, lang) extraction: the per-row invariant.

The reference extracts with BeautifulSoup + jusText + langdetect
(`/root/reference/app/indexer/htmlparser.py:16-31,78-110`): title from
`<title>`, body = jusText non-boilerplate paragraphs joined with ' '
plus a trailing space, snippet = `body[:300].replace(',','-')`, language
via langdetect. None of those libraries exist in this environment, so
this module is a faithful, deterministic, self-contained reimplementation
of that pipeline: jusText's FULL published two-pass algorithm (Pomikálek
2011, "Removing boilerplate and duplicate content from web corpora", and
the open-source justext package's documented behavior) with the
reference's parameters (max_link_density=0.3, stopwords_low=0.1,
stopwords_high=0.3, length_low=30, length_high=100 —
`htmlparser.py:22-26`):

- paragraphs = text of block-level segments (<p>, <li>, <h*>, <div>,
  <td>, <nav>, <footer>, ...), whitespace-normalized; segments inside
  <h1>-<h6> carry a heading flag;
- context-free pass per paragraph: link_density > 0.3 -> bad; contains a
  copyright mark ('\xa9' / '&copy') -> bad; len < length_low -> bad if
  it has link chars else short; stopword_density >= stopwords_high ->
  good if len > length_high else neargood; >= stopwords_low -> neargood;
  else bad;
- context-sensitive pass: short headings within MAX_HEADING_DISTANCE
  chars of a good paragraph -> neargood; short blocks take their
  nearest good/bad neighbours' verdict (good+good -> good, bad+bad ->
  bad, mixed -> good only via an adjacent neargood); neargood blocks
  die only between two bads; demoted headings near good content are
  reclaimed;
- body = good paragraphs joined by ' ' + trailing ' ' (htmlparser.py:106)
  — is_boilerplate == (class != good), mirroring htmlparser.py:28-30;
- snippet = body[:300].replace(',', '-') (htmlparser.py:109);
- language = stopword-profile argmax over {en,de,fr,es} ('xx' when no
  profile scores), replacing langdetect (htmlparser.py:98).

Documented divergences from the real libraries (both absent here): the
stopword density uses the best-matching of four compact built-in
function-word profiles instead of jusText's per-language shipped
stoplists (the reference passes its single configured language's list),
and paragraph segmentation is regex-over-tags rather than an lxml DOM
walk (no dom_path, so jusText's 'select' rule has no equivalent). The
gated differential in tests/test_extract_library_differential.py diffs
against the real libraries whenever they are importable.

The SAME function runs driver-side (pytest oracle) and inside the Arrow
`mapInPandas` UDF (engine) — the parity test asserts byte-identical
output, which is the per-row invariant named in BASELINE.json.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import types as T

MAX_LINK_DENSITY = 0.3
STOPWORDS_LOW = 0.1
STOPWORDS_HIGH = 0.3
LENGTH_LOW = 30
LENGTH_HIGH = 100
SNIPPET_LEN = 300
# jusText's default: a short heading adopts nearby good content within
# this many characters of following-paragraph text
MAX_HEADING_DISTANCE = 200

# Function-word profiles for stopword density + the deterministic
# language id. jusText ships full per-language stoplists; these are
# compact public function-word inventories standing in for them (the
# en profile is sized so that natural English text lands well above
# stopwords_high, as it does under the real stoplist).
LANG_STOPWORDS: dict[str, frozenset] = {
    "en": frozenset("the of and to a in is was as for on with that it by at "
                    "from his he this are be or an were which have not they "
                    "had her she its but one all their there when who more "
                    "no if out so up what about into them can only other "
                    "time new some could these two may then do first any my "
                    "now such like our over even most made after also did "
                    "many before must through where much your way well down "
                    "should because each just those how too very still own "
                    "between never same another while might us since "
                    "against came".split()),
    "de": frozenset("der die das und ist von zu mit den im für auf des ein "
                    "eine nicht sich dem als auch es an werden aus er".split()),
    "fr": frozenset("le la les de des et un une du en est que pour dans qui "
                    "par sur au plus avec ne se pas ce il".split()),
    "es": frozenset("el la los las de y que en un una del es por con para su "
                    "se no al lo como más pero sus le".split()),
}
STOPWORDS_EN = LANG_STOPWORDS["en"]

_LANGS = ("en", "de", "fr", "es")
# one combined word -> language bitmask map: a single dict probe per
# word instead of four frozenset probes (extraction is the ingest
# hot path — see BASELINE.md; output is byte-identical)
_LANG_MASK: dict[str, int] = {}
for _i, _lg in enumerate(_LANGS):
    for _w in LANG_STOPWORDS[_lg]:
        _LANG_MASK[_w] = _LANG_MASK.get(_w, 0) | (1 << _i)


def _lang_hits(words) -> list[int]:
    """Per-language stopword hit counts: Counter over masks keeps the
    per-word loop in C (<=16 distinct masks to unpack)."""
    from collections import Counter
    counts = [0, 0, 0, 0]
    for m, k in Counter(map(_LANG_MASK.get, words)).items():
        if m:
            if m & 1:
                counts[0] += k
            if m & 2:
                counts[1] += k
            if m & 4:
                counts[2] += k
            if m & 8:
                counts[3] += k
    return counts

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)
_BLOCK_SPLIT_CAP_RE = re.compile(
    r"(</?(?:p|div|li|ul|ol|h[1-6]|td|tr|table|nav|footer|header|article|"
    r"section|br|blockquote|pre|body|html)\b[^>]*>)",
    re.IGNORECASE,
)
_H_OPEN_RE = re.compile(r"<h[1-6]\b", re.IGNORECASE)
_H_CLOSE_RE = re.compile(r"</h[1-6]\s*>", re.IGNORECASE)
_A_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_SCRIPT_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1>",
                        re.IGNORECASE | re.DOTALL)
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head>", re.IGNORECASE | re.DOTALL)
_WORD_RE = re.compile(r"[\w']+", re.UNICODE)


def _norm_space(s: str) -> str:
    return " ".join(s.split())


def _strip_tags(s: str) -> str:
    if "<" not in s:
        return _norm_space(s)
    return _norm_space(_TAG_RE.sub(" ", s))


def detect_lang(text: str) -> str:
    """Deterministic stopword-profile language id (langdetect stand-in)."""
    words = [w.lower() for w in _WORD_RE.findall(text)]
    if not words:
        return "xx"
    counts = _lang_hits(words)
    best_lang, best_hits = "xx", 0
    for lang, hits in zip(_LANGS, counts):  # fixed order = deterministic ties
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    return best_lang if best_hits > 0 else "xx"


class _Para:
    """One candidate paragraph: a block-level segment with text.

    Tokenization is lazy: paragraphs killed by link density / copyright
    / length never pay for word counting (the extraction hot path —
    nav/footer boilerplate dominates segment counts on real pages).
    jusText runs with one per-language stoplist; we are language-
    agnostic and take the best-matching known profile (deterministic);
    counts are reused for document language id."""
    __slots__ = ("text", "heading", "link_chars", "_counts", "_n_words",
                 "cf", "cls")

    def __init__(self, text: str, heading: bool, link_chars: int):
        self.text = text
        self.heading = heading
        self.link_chars = link_chars
        self._counts = None
        self._n_words = -1
        self.cf = self.cls = "bad"

    def _tokenize(self) -> None:
        words = [w.lower() for w in _WORD_RE.findall(self.text)]
        self._n_words = len(words)
        self._counts = _lang_hits(words) if words else [0, 0, 0, 0]

    @property
    def n_words(self) -> int:
        if self._n_words < 0:
            self._tokenize()
        return self._n_words

    @property
    def counts(self) -> list:
        if self._counts is None:
            self._tokenize()
        return self._counts


def _segment_paragraphs(body_html: str) -> list[_Para]:
    """Block-tag segmentation with heading tracking: split on block
    tags, keep the tags (capturing split) so <h1>-<h6> nesting state is
    known for each text segment. Whitespace-only segments never become
    paragraphs (they must not act as neighbours in the revision pass)."""
    paras: list[_Para] = []
    in_heading = 0
    for i, tok in enumerate(_BLOCK_SPLIT_CAP_RE.split(body_html)):
        if i % 2 == 1:  # a block tag
            if _H_OPEN_RE.match(tok):
                in_heading += 1
            elif _H_CLOSE_RE.match(tok):
                in_heading = max(0, in_heading - 1)
            continue
        if not tok or tok.isspace():  # inter-tag whitespace, common case
            continue
        text = _strip_tags(tok)
        if not text:
            continue
        link_chars = 0
        if "<a" in tok or "<A" in tok:
            link_chars = sum(len(_strip_tags(m)) for m in _A_RE.findall(tok))
        copyright_mark = "\xa9" in text or "&copy" in tok
        p = _Para(text, in_heading > 0, link_chars)
        p.cf = _cf_class(p, copyright_mark)
        paras.append(p)
    return paras


def _cf_class(p: _Para, copyright_mark: bool) -> str:
    """jusText context-free classification (paper §published algorithm;
    parameters from htmlparser.py:22-26). No dom_path here, so the
    library's CSS-'select' rule has no equivalent."""
    length = len(p.text)
    if p.link_chars / length > MAX_LINK_DENSITY:
        return "bad"
    if copyright_mark:
        return "bad"
    if length < LENGTH_LOW:
        return "bad" if p.link_chars > 0 else "short"
    if p._n_words < 0:
        p._tokenize()
    if p._n_words == 0:
        return "bad"
    density = max(p._counts) / p._n_words
    if density >= STOPWORDS_HIGH:
        return "good" if length > LENGTH_HIGH else "neargood"
    if density >= STOPWORDS_LOW:
        return "neargood"
    return "bad"


def _neighbour(i: int, paras: list[_Para], ignore_neargood: bool,
               inc: int, boundary: int) -> str:
    """Nearest decided neighbour's class walking by `inc`; document
    boundaries count as 'bad' (jusText's edge rule)."""
    while i + inc != boundary:
        i += inc
        c = paras[i].cls
        if c in ("good", "bad"):
            return c
        if c == "neargood" and not ignore_neargood:
            return c
    return "bad"


def _revise(paras: list[_Para]) -> None:
    """jusText context-sensitive pass, in the library's documented
    order: good-heading promotion, short resolution (batch-applied),
    neargood resolution (sequential), demoted-heading reclaim."""
    n = len(paras)
    for p in paras:
        p.cls = p.cf
    # short headings adopt nearby good content
    for i, p in enumerate(paras):
        if not (p.heading and p.cls == "short"):
            continue
        dist, j = 0, i + 1
        while j < n and dist <= MAX_HEADING_DISTANCE:
            if paras[j].cls == "good":
                p.cls = "neargood"
                break
            dist += len(paras[j].text)
            j += 1
    # short blocks take their nearest good/bad neighbours' verdict;
    # decisions are applied AFTER the loop (shorts don't see each other)
    new_cls: dict[int, str] = {}
    for i, p in enumerate(paras):
        if p.cls != "short":
            continue
        prev = _neighbour(i, paras, True, -1, -1)
        nxt = _neighbour(i, paras, True, 1, n)
        if prev == "good" and nxt == "good":
            new_cls[i] = "good"
        elif prev == "bad" and nxt == "bad":
            new_cls[i] = "bad"
        elif ((prev == "bad" and
               _neighbour(i, paras, False, -1, -1) == "neargood") or
              (nxt == "bad" and
               _neighbour(i, paras, False, 1, n) == "neargood")):
            new_cls[i] = "good"
        else:
            new_cls[i] = "bad"
    for i, c in new_cls.items():
        paras[i].cls = c
    # neargood dies only between two bads (sequential, like the library)
    for i, p in enumerate(paras):
        if p.cls != "neargood":
            continue
        prev = _neighbour(i, paras, True, -1, -1)
        nxt = _neighbour(i, paras, True, 1, n)
        p.cls = "bad" if (prev == "bad" and nxt == "bad") else "good"
    # headings demoted by context get reclaimed near good content
    for i, p in enumerate(paras):
        if not (p.heading and p.cls == "bad" and p.cf != "bad"):
            continue
        dist, j = 0, i + 1
        while j < n and dist <= MAX_HEADING_DISTANCE:
            if paras[j].cls == "good":
                p.cls = "good"
                break
            dist += len(paras[j].text)
            j += 1


def extract_html(html: bytes | str) -> tuple[str, str, str, str]:
    """(title, body_text, snippet, lang) — mirrors
    `/root/reference/app/indexer/htmlparser.py:78-110` semantics with
    the full two-pass jusText classification.

    Language id reuses the per-paragraph stopword counts: the body is
    the good paragraphs joined by ' ', so summing their counts (plus
    the title's) equals `detect_lang(title + ' ' + body)` exactly —
    no second tokenization pass over the document."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    m = _TITLE_RE.search(html)
    title = _strip_tags(m.group(1)) if m else ""
    body_html = _SCRIPT_RE.sub(" ", _HEAD_RE.sub(" ", html))
    paras = _segment_paragraphs(body_html)
    _revise(paras)
    kept: list[str] = []
    totals = _lang_hits(w.lower() for w in _WORD_RE.findall(title)) \
        if title else [0, 0, 0, 0]
    any_word = bool(title and _WORD_RE.search(title))
    for p in paras:
        if p.cls == "good":
            kept.append(p.text)
            any_word = True
            for i in range(4):
                totals[i] += p.counts[i]
    # join with ' ' and trailing space, per htmlparser.py:104-106
    body = ""
    for p in kept:
        body += p + " "
    snippet = body[:SNIPPET_LEN].replace(",", "-")
    best_lang, best_hits = "xx", 0
    for lang, hits in zip(_LANGS, totals):
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    lang = (best_lang if best_hits > 0 else "xx") if any_word else "xx"
    return title, body, snippet, lang


EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("snippet", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def extract_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over (url, warc_ts, html) -> EXTRACT_SCHEMA.

    jusText-style extraction is inherently per-document Python; the Arrow
    boundary stays batch-level (SURVEY.md §7 hard-part (a)).
    """
    for pdf in batches:
        rows = pdf["html"].map(extract_html)
        yield pd.DataFrame({
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "title": rows.map(lambda r: r[0]),
            "text": rows.map(lambda r: r[1]),
            "snippet": rows.map(lambda r: r[2]),
            "lang": rows.map(lambda r: r[3]),
        })


def extract_df(corpus_df):
    """documents(url, warc_ts, html, ...) -> extracted columns via Arrow."""
    return corpus_df.select("url", "warc_ts", "html").mapInPandas(
        extract_map_in_pandas, schema=EXTRACT_SCHEMA)

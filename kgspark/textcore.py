"""Pure-Python deterministic extraction core (no Spark imports).

All datetimes are tz-naive and mean UTC (the Spark session runs with
spark.sql.session.timeZone=UTC; reference normalization:
graphiti_core/utils/datetime_utils.py:20-42).

This module is the single source of truth for every per-row transformation in
the KG-construction pipeline:

- ``html_to_text``       : byte-identical HTML -> text extraction
- ``extract_mentions``   : entity mention detection (analog of the reference's
  LLM node-extraction contract, /root/reference/graphiti_core/prompts/
  extract_nodes.py:65-176 and utils/maintenance/node_operations.py:148-265)
- ``extract_triples``    : (subj, pred_CAPS, obj, fact) extraction (analog of
  prompts/extract_edges.py:27-105, edge_operations.py:73-148)
- ``parse_dates``        : explicit/relative date phrase -> (valid_at,
  invalid_at), defaulting valid_at to the reference timestamp for
  present-tense facts (rules of prompts/extract_edge_dates.py:77-87)
- ``normalize_name`` / ``name_shingles`` / ``hash_embedding`` : the
  deterministic analog of the embedder (dim 1024,
  graphiti_core/embedder/client.py:22)
- contradiction tables    : deterministic analog of the LLM contradiction
  classifier (prompts/invalidate_edges.py, temporal_operations.py:71-103)

Both the Spark pipeline (through vectorized Arrow UDFs) and the
single-process oracle (kgspark/oracle.py) call these functions, so any
divergence between them is attributable to the distributed plan, never to the
per-row logic.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from functools import lru_cache
from datetime import datetime, timedelta

# ---------------------------------------------------------------------------
# HTML -> text (hand-rolled, deterministic; SURVEY.md §7.3 risk 4)
# ---------------------------------------------------------------------------

_SCRIPT_RE = re.compile(r"<script\b[^>]*>.*?</script>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(r"<style\b[^>]*>.*?</style>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
# Block-level tags become newlines so sentences on different lines never fuse.
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|title|body|html|head)\b[^>]*>",
    re.IGNORECASE,
)
_TAG_RE = re.compile(r"<[^>]+>")

_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}

_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")


def _decode_entity(m: re.Match) -> str:
    # OverflowError: a numeric reference beyond the C-int range (crawled
    # garbage like &#12345678901234567890123;) must degrade to the literal
    # text, not kill the extraction stage
    body = m.group(1)
    if body.startswith("#x") or body.startswith("#X"):
        try:
            return chr(int(body[2:], 16))
        except (ValueError, OverflowError):
            return m.group(0)
    if body.startswith("#"):
        try:
            return chr(int(body[1:]))
        except (ValueError, OverflowError):
            return m.group(0)
    return _ENTITIES.get(body.lower(), m.group(0))


def html_to_text(html: bytes | str) -> str:
    """Deterministic tag-stripper + entity-decoder.

    Contract (BASELINE.json input_hint): output is byte-identical per url
    between the Spark UDF and the golden ``text`` column.
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    s = _COMMENT_RE.sub("", html)
    s = _SCRIPT_RE.sub("", s)
    s = _STYLE_RE.sub("", s)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _TAG_RE.sub("", s)
    s = _ENTITY_RE.sub(_decode_entity, s)
    # collapse intra-line whitespace, drop blank lines, join with '\n'
    lines = []
    for raw in s.split("\n"):
        line = re.sub(r"[ \t\r\f\v]+", " ", raw).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Mention detection
# ---------------------------------------------------------------------------

# Months/weekday words are capitalized inside date phrases but are never
# entities (rule 5 of prompts/extract_nodes.py:94 — no date nodes).
_STOPWORDS = {
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
    "Sunday", "I", "The", "A", "An",
}

# Dynamic-event name keywords — analog of DYNAMIC_EVENT_LABELS
# (node_operations.py:56-62). A dynamic event never merges with a previous
# instance; it links to it via PREVIOUS_INSTANCE (node_operations.py:64,379-394).
DYNAMIC_KEYWORDS = {"Outage", "Incident", "Blocker", "Discrepancy", "Dip"}

_ISO_DATE = r"\d{4}-\d{2}-\d{2}"
# Title-Case word sequences, optionally ending in an ISO date (event names).
_MENTION_RE = re.compile(
    rf"\b((?:[A-Z][a-zA-Z0-9]*)(?:\s+(?:[A-Z][a-zA-Z0-9]*|{_ISO_DATE}))*)\b"
)
_SPEAKER_RE = re.compile(r"^([a-z][a-z0-9_]{2,}):\s")
_HAS_DATE_RE = re.compile(_ISO_DATE)
_HANDLE_RE = re.compile(r"[a-z][a-z0-9_]{2,}")


@lru_cache(maxsize=1 << 16)
def classify_name(name: str) -> str:
    """Deterministic entity-type classifier (analog of the LLM classifier,
    node_operations.py:206-234 — dictionary/keyword classification).
    Pure function of the name; lru_cached — web text repeats entity names
    heavily, and this sits on the per-mention hot path."""
    toks = name.split()
    if _HAS_DATE_RE.search(name) or (toks and toks[0] in DYNAMIC_KEYWORDS):
        return "DynamicEvent"
    if _HANDLE_RE.fullmatch(name):
        return "Person"  # speaker handle
    if not toks:  # whitespace-only input: fall through to the default
        return "Organization"
    if toks[-1] == "Campaign":
        return "Campaign"
    if toks[-1] == "Team":
        return "Team"
    if toks[-1] == "City":
        return "Place"
    if len(toks) >= 2:
        return "Person"
    return "Organization"


@dataclass(frozen=True)
class Mention:
    name: str
    label: str
    start: int  # char offset within the sentence
    speaker: bool = False  # True only for message-episode speaker mentions


_SENT_SPLIT_RE = re.compile(r"\.(?!\d)\s*")


def split_sentences(text: str) -> list[str]:
    """Split on '.', newline-safe. Entity names never contain '.'.
    A period directly followed by a digit does NOT split — dotted numeric
    dates ('since 15.03.2024') and decimals stay inside one sentence."""
    out = []
    for line in text.split("\n"):
        for part in _SENT_SPLIT_RE.split(line):
            part = part.strip()
            if part:
                out.append(part)
    return out


def _scan_names(sent: str):
    """Yield (trimmed_name, match_start) for every Title-Case mention in one
    sentence — the inner loop of extract_mentions.
    The start is the UNTRIMMED match start (spec behavior: downstream
    between-text slicing uses trimmed name length from the untrimmed start).
    """
    for mt in _MENTION_RE.finditer(sent):
        name = _trim_title_name(mt.group(1))
        if name is None:
            continue
        yield name, mt.start()


@lru_cache(maxsize=1 << 17)
def _trim_title_name(raw: str) -> str | None:
    """Stopword-trim one raw Title-Case match (months leak in from phrases
    like 'since March 1, 2024' -> single-token 'March'); None = noise.
    lru_cached: raw matches repeat corpus-wide (boilerplate + recurring
    entities), and the trim loop dominated _scan_names in profiles."""
    toks = raw.split()
    while toks and toks[0] in _STOPWORDS:
        toks = toks[1:]
    while toks and toks[-1] in _STOPWORDS:
        toks = toks[:-1]
    if not toks:
        return None
    name = " ".join(toks)
    if len(toks) == 1 and len(name) < 3:
        return None  # single initials / stray capitals are noise
    return name


def extract_mentions(text: str, classifier=None) -> list[Mention]:
    """Detect entity mentions in one page's text.

    Mirrors the reference extraction rules (prompts/extract_nodes.py:89-102):
    speaker-first for message rows, Title-Case named entities, dynamic events
    kept unique by embedded date, no bare-date/month nodes.

    ``classifier`` (name -> label) overrides the built-in classify_name —
    the pluggable entity-type hook (add_episode(entity_types=...) analog,
    graphiti.py:199; see kgspark/entity_types.py).
    """
    if classifier is None:
        classifier = classify_name
    seen: set[str] = set()
    mentions: list[Mention] = []
    offset = 0
    for sent in split_sentences(text):
        m = _SPEAKER_RE.match(sent)
        if m:
            h = m.group(1)
            if h not in seen:
                seen.add(h)
                mentions.append(Mention(h, "Person", offset))
        for name, start in _scan_names(sent):
            if name not in seen:
                seen.add(name)
                mentions.append(Mention(name, classifier(name), offset + start))
        offset += len(sent) + 2
    return mentions


# ---------------------------------------------------------------------------
# Triple extraction
# ---------------------------------------------------------------------------

# Verb lexicon: surface phrase -> RELATION_TYPE_IN_CAPS
# (contract of prompts/extract_edges.py:27-31 — CAPS predicate, both endpoints
# must be extracted entities).
VERB_LEXICON: list[tuple[str, str]] = [
    ("no longer works for", "LEFT_JOB"),
    ("collaborates with", "COLLABORATES_WITH"),
    ("participates in", "PARTICIPATES_IN"),
    ("works for", "WORKS_FOR"),
    ("moved to", "LIVES_IN"),
    ("lives in", "LIVES_IN"),
    ("applied to", "APPLIED_TO"),
    ("dislikes", "DISLIKES"),
    ("likes", "LIKES"),
    ("sponsors", "SPONSORS"),
    ("features", "FEATURES"),
    ("manages", "MANAGES"),
    ("reports", "REPORTS_ISSUE"),
    ("resolves", "RESOLVES_ISSUE"),
    ("left", "LEFT_JOB"),
]

_VERB_ALTS = "|".join(re.escape(p) for p, _ in sorted(VERB_LEXICON, key=lambda x: -len(x[0])))
_VERB_MAP = dict(VERB_LEXICON)

# Point-in-time event predicates: they CLOSE conflicting state facts but are
# never themselves closed (reference semantics arise from the LLM classifier;
# see test_temporal_operations_int.py WORKS_FOR->LEFT_JOB scenario).
EVENT_PREDICATES = {"LEFT_JOB", "REPORTS_ISSUE", "RESOLVES_ISSUE", "APPLIED_TO"}

# Pair-scoped contradiction classes: two facts on the SAME unordered node pair
# whose predicates share a class contradict (analog of the LLM call in
# temporal_operations.py:71-103 judged over edges of the same endpoints).
CONTRA_PAIR_CLASSES: dict[str, str] = {
    "LIKES": "affinity",
    "DISLIKES": "affinity",
    "WORKS_FOR": "employment",
    "LEFT_JOB": "employment",
}

# Subject-functional predicates: a newer fact (same subject, same predicate,
# different object) supersedes the older one — e.g. moving cities, changing
# employer.
FUNCTIONAL_PREDICATES = {"LIVES_IN", "WORKS_FOR", "MANAGES"}


@dataclass(frozen=True)
class Triple:
    subject: str
    predicate: str
    object: str
    fact: str
    valid_at: datetime | None
    invalid_at: datetime | None
    explicit_dates: bool  # True when a date phrase was parsed from the text


_MONTHS = {
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5,
    "june": 6, "july": 7, "august": 8, "september": 9, "october": 10,
    "november": 11, "december": 12,
}

_MONTH_NAMES = r"(?:January|February|March|April|May|June|July|August|September|October|November|December)"
_LONG_DATE = rf"{_MONTH_NAMES} \d{{1,2}}, \d{{4}}"
# r4 grammar breadth (reference rules prompts/extract_edge_dates.py:77-87,
# incl. "if only a year/month is mentioned, use the first"): numeric slash
# (2024/03/15), numeric dot (15.03.2024, day-first), month-year
# ("March 2024" -> first of month). LONG before MONTH_YEAR in the
# alternation so "March 5, 2024" never half-matches as month-year. All
# patterns stay RE2-compatible (no backrefs/lookarounds) — the DuckDB
# oracle strips the SAME patterns in SQL (kg_oracle._norm_fact).
_SLASH_DATE = r"\d{4}/\d{2}/\d{2}"
_DOT_DATE = r"\d{1,2}\.\d{1,2}\.\d{4}"
# r4 session-5 breadth: ordinal long ("March 5th, 2024") and day-first
# textual ("5 March 2024" — the British/European form). ORD cannot collide
# with LONG (LONG requires the comma directly after the digits); DMY sits
# BEFORE MONTH_YEAR in the alternations so "5 March 2024" captures whole
# instead of leaving a "5 " residue around a month-year half-match.
# Any ordinal suffix is accepted on any day ("March 21th" parses too):
# intentional leniency — real web text misuses suffixes, Graphiti's LLM
# extractor reads such dates anyway, and the DuckDB oracle shares this
# exact pattern so parity is unaffected (ADVICE r4: documented as
# deliberate rather than tightened to day-appropriate suffixes).
_ORD_DATE = rf"{_MONTH_NAMES} \d{{1,2}}(?:st|nd|rd|th), \d{{4}}"
_DMY_DATE = rf"\d{{1,2}} {_MONTH_NAMES} \d{{4}}"
_MONTH_YEAR = rf"{_MONTH_NAMES} \d{{4}}"
# bare year -> January 1st (extract_edge_dates.py:81 rule 5, second half:
# "If only a year is mentioned, use January 1st"). Century-bounded so
# quantities ("since 3500 units shipped") never read as dates; trailing \b
# so a longer digit run ("20240315") can't half-match. LAST in every
# alternation: a full date must always win over its own year prefix.
_BARE_YEAR = r"(?:19|20)\d{2}\b"
# r5 long-tail (VERDICT r4 next #7 — BEYOND the reference's published
# rules, so the convention is ours and documented): quarters ("Q2 2024")
# -> first day of that quarter; "early/mid/late YYYY" -> Jan 1 / Jul 1 /
# Oct 1 ("first day of the implied period": early keeps the bare-year
# Jan-1 convention, mid is the year's midpoint boundary, late the Q4
# boundary). Early/mid/late accept a sentence-initial capital. Both are
# year-precision forms, so like _BARE_YEAR they join the _Y alternation
# (since/from/until/in) but never the day-precision "on" trigger. The
# DuckDB oracle strips the SAME patterns (DATE_STRIP_RES), and
# tests/test_dates_vs_sql_oracle.py re-derives both forms from raw text.
_QTR_DATE = r"Q[1-4] (?:19|20)\d{2}\b"
_EML_YEAR = r"(?:[Ee]arly|[Mm]id|[Ll]ate) (?:19|20)\d{2}\b"
_DATE_ALT = (rf"(?:{_LONG_DATE}|{_ORD_DATE}|{_DMY_DATE}|{_ISO_DATE}"
             rf"|{_SLASH_DATE}|{_DOT_DATE}|{_MONTH_YEAR})")
_DATE_ALT_Y = (rf"(?:{_LONG_DATE}|{_ORD_DATE}|{_DMY_DATE}|{_ISO_DATE}"
               rf"|{_SLASH_DATE}|{_DOT_DATE}|{_MONTH_YEAR}"
               rf"|{_QTR_DATE}|{_EML_YEAR}|{_BARE_YEAR})")
_FROM_TO_RE = re.compile(rf"\bfrom ({_DATE_ALT_Y}) to ({_DATE_ALT_Y})")
_SINCE_RE = re.compile(rf"\b(?:since|starting) ({_DATE_ALT_Y})")
# "on <bare year>" stays excluded: "on 2024 units/devices" is common web
# text and "on" marks a day-precision point in the reference's examples
_ON_RE = re.compile(rf"\bon ({_DATE_ALT})")
# "in March 2024" / "in 2024" — month-year or bare year only: "in
# 2024-03-15" is not idiomatic and "in <City>" must never be a date trigger
_IN_RE = re.compile(
    rf"\bin ({_MONTH_YEAR}|{_QTR_DATE}|{_EML_YEAR}|{_BARE_YEAR})")
_UNTIL_RE = re.compile(rf"\buntil ({_DATE_ALT_Y})")
_REL_RE = re.compile(
    r"\b(yesterday|last week|last month|last year"
    r"|\d{1,3} (?:days?|weeks?|months?|years?) ago)\b")
# fast-path gate: every absolute form above contains a 4-digit year, so a
# sentence without one can only carry a relative phrase — one search
# replaces the absolute-pattern searches on date-free sentences (the
# overwhelmingly common case on web text)
_ABS_DATE_HINT_RE = re.compile(r"\d{4}")

# the ONE list of date-phrase patterns stripped from fact-dedup keys —
# normalize_fact (Python) and kg_oracle._norm_fact (DuckDB SQL) both
# iterate this, so the two sides cannot drift
DATE_STRIP_RES = (_FROM_TO_RE, _SINCE_RE, _ON_RE, _IN_RE, _UNTIL_RE, _REL_RE)


def _parse_date_token(tok: str) -> datetime | None:
    """None for syntactically date-shaped but calendar-invalid tokens
    ('2024-13-45', 'May 99, 2024') — web text carries date-like serial
    numbers, and a ValueError here would kill the whole extraction task."""
    try:
        m = re.fullmatch(r"(\d{4})[-/](\d{2})[-/](\d{2})", tok)
        if m:  # ISO 2024-03-15 and slash 2024/03/15 (both year-first)
            return datetime(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        m = re.fullmatch(r"(\d{1,2})\.(\d{1,2})\.(\d{4})", tok)
        if m:  # dotted numeric 15.03.2024 (day-first, the European form)
            return datetime(int(m.group(3)), int(m.group(2)), int(m.group(1)))
        m = re.fullmatch(r"([A-Za-z]+) (\d{1,2}), (\d{4})", tok)
        if m:
            return datetime(int(m.group(3)), _MONTHS[m.group(1).lower()],
                            int(m.group(2)))
        m = re.fullmatch(r"([A-Za-z]+) (\d{1,2})(?:st|nd|rd|th), (\d{4})", tok)
        if m:  # ordinal long: March 5th, 2024
            return datetime(int(m.group(3)), _MONTHS[m.group(1).lower()],
                            int(m.group(2)))
        m = re.fullmatch(r"(\d{1,2}) ([A-Za-z]+) (\d{4})", tok)
        if m:  # day-first textual: 5 March 2024
            return datetime(int(m.group(3)), _MONTHS[m.group(2).lower()],
                            int(m.group(1)))
        m = re.fullmatch(r"Q([1-4]) ((?:19|20)\d{2})", tok)
        if m:  # quarter -> first day of that quarter (Q2 2024 -> Apr 1)
            return datetime(int(m.group(2)), 3 * (int(m.group(1)) - 1) + 1, 1)
        m = re.fullmatch(r"([Ee]arly|[Mm]id|[Ll]ate) ((?:19|20)\d{2})", tok)
        if m:  # early/mid/late YYYY -> Jan 1 / Jul 1 / Oct 1 (see grammar
            # comment at _EML_YEAR for the convention)
            return datetime(int(m.group(2)),
                            {"early": 1, "mid": 7, "late": 10}[
                                m.group(1).lower()], 1)
        m = re.fullmatch(r"([A-Za-z]+) (\d{4})", tok)
        if m:  # month-year -> first of month (extract_edge_dates rule 5)
            return datetime(int(m.group(2)), _MONTHS[m.group(1).lower()], 1)
        m = re.fullmatch(r"(?:19|20)\d{2}", tok)
        if m:  # bare year -> January 1st (extract_edge_dates rule 5)
            return datetime(int(tok), 1, 1)
    except (ValueError, KeyError):
        return None
    return None


def parse_dates_structural(
        sentence: str) -> tuple[datetime | None, datetime | None, bool, int | None]:
    """``parse_dates`` with the reference-timestamp dependence factored out.

    Returns (valid, invalid, explicit, rel_days): everything except
    ``rel_days`` is a pure function of the sentence text, and ``rel_days``
    (None, or the day delta of a matched relative phrase) is what
    ``parse_dates`` resolves against ``ref_ts``. The split is what lets the
    Arrow UDFs cache per-sentence extraction across pages with different
    crawl timestamps (web boilerplate repeats sentences corpus-wide).
    """
    valid: datetime | None = None
    invalid: datetime | None = None
    explicit = False
    if _ABS_DATE_HINT_RE.search(sentence) is not None:
        # a calendar-invalid token parses to None and contributes no date
        # (and no explicitness); a from-to with both ends invalid falls
        # through to the remaining patterns
        m = _FROM_TO_RE.search(sentence)
        if m:
            v = _parse_date_token(m.group(1))
            inv = _parse_date_token(m.group(2))
            if v is not None or inv is not None:
                return v, inv, True, None
        # try 'since', 'on', then 'in <month-year>' — a since-match whose
        # token is calendar-invalid must not shadow a parseable on-date
        # (same fall-through rule as the from-to branch above)
        for rx in (_SINCE_RE, _ON_RE, _IN_RE):
            m = rx.search(sentence)
            if m:
                valid = _parse_date_token(m.group(1))
                if valid is not None:
                    explicit = True
                    break
        m = _UNTIL_RE.search(sentence)
        if m:
            invalid = _parse_date_token(m.group(1))
            explicit = explicit or invalid is not None
    rel_days: int | None = None
    if valid is None:
        m = _REL_RE.search(sentence)
        if m:
            rel = m.group(1)
            fixed = {"yesterday": 1, "last week": 7, "last month": 30,
                     "last year": 365}
            if rel in fixed:
                rel_days = fixed[rel]
            else:  # "N days/weeks/months/years ago" (extract_edge_dates
                # rule 2; month=30d / year=365d — the same flat convention
                # as "last month"/"last year" above)
                n, unit = rel.split()[:2]
                rel_days = int(n) * {"d": 1, "w": 7, "m": 30, "y": 365}[unit[0]]
    return valid, invalid, explicit, rel_days


def _apply_ref(ds: tuple[datetime | None, datetime | None, bool, int | None],
               ref_ts: datetime) -> tuple[datetime | None, datetime | None, bool]:
    """Resolve a structural date parse against the reference timestamp."""
    valid, invalid, explicit, rel_days = ds
    if rel_days is not None:
        day0 = datetime(ref_ts.year, ref_ts.month, ref_ts.day)
        valid = day0 - timedelta(days=rel_days)
        explicit = True
    return valid, invalid, explicit


def parse_dates(sentence: str, ref_ts: datetime) -> tuple[datetime | None, datetime | None, bool]:
    """Date-phrase parser (deterministic analog of extract_edge_dates,
    temporal_operations.py:32-68; rules prompts/extract_edge_dates.py:77-87).

    Returns (valid_at, invalid_at, explicit). Present-tense default
    (valid_at = reference timestamp) is applied by the caller via
    ``coalesce(valid_at, warc_ts)`` so the default is visible in the plan.
    """
    return _apply_ref(parse_dates_structural(sentence), ref_ts)


def sentence_protos(sent: str) -> tuple[list[tuple[str, str, str, str]], tuple | None]:
    """ref_ts-independent extraction for ONE sentence: the (subject,
    PREDICATE, object, fact) protos plus the structural date parse
    (``parse_dates_structural`` of the body; None when no triple needed it).

    Pure function of the sentence text — the unit the Arrow UDFs memoize
    across pages (web boilerplate repeats sentences corpus-wide; resolving
    ``ref_ts`` per page is just ``_apply_ref``)."""
    protos: list[tuple[str, str, str, str]] = []
    ds: tuple | None = None
    body = _SPEAKER_RE.sub("", sent)
    sent_mentions = extract_mentions(body)
    if len(sent_mentions) < 2:
        return protos, ds
    by_start = sorted(sent_mentions, key=lambda m: m.start)
    for a, b in zip(by_start, by_start[1:]):
        between = body[a.start + len(a.name): b.start].strip()
        between = _LEADING_THE_RE.sub("", between)
        pred = _VERB_MAP.get(between)
        if pred is None:
            continue
        if a.name == b.name:
            continue  # self-loop drop (bulk_utils.py:385-386)
        if ds is None:
            # structural parse is a function of body only — once per sentence
            ds = parse_dates_structural(body)
        protos.append((a.name, pred, b.name, sent.strip() + "."))
    return protos, ds


def extract_triples(text: str, ref_ts: datetime, _cache: dict | None = None) -> list[Triple]:
    """Extract (subject, PREDICATE, object, fact) triples from one page.

    Only emits facts between detected mentions (rule 1 of
    prompts/extract_edges.py:79-82); relation types in CAPS (rule 3);
    the fact is the full sentence (rule 4).

    ``_cache``: optional sentence -> ``sentence_protos`` memo, shared by the
    caller across pages (udfs.extract_triples passes one per Arrow task).
    Safe because the memoized unit is ref_ts-independent by construction.
    """
    triples: list[Triple] = []
    for sent in split_sentences(text):
        if _cache is None:
            protos, ds = sentence_protos(sent)
        else:
            hit = _cache.get(sent)
            if hit is None:
                hit = _cache[sent] = sentence_protos(sent)
            protos, ds = hit
        if not protos:
            continue
        valid_at, invalid_at, explicit = _apply_ref(ds, ref_ts)
        for subj, pred, obj, fact in protos:
            triples.append(
                Triple(subj, pred, obj, fact, valid_at, invalid_at, explicit)
            )
    return triples


_LEADING_THE_RE = re.compile(r"^(?:the\s+)")


# ---------------------------------------------------------------------------
# Episode-source variants: message / json (EpisodeType dispatch)
#
# Reference: nodes.py:42-75 (EpisodeType enum: message | json | text) and the
# per-source extraction split at node_operations.py:67-124 dispatched at
# :177-187. `message` content is "speaker: content" lines; rule 1 of
# prompts/extract_nodes.py:91 is "ALWAYS extract the speaker/actor as the
# first node (part before the colon)". `json` content is a JSON object;
# prompts/extract_nodes.py:111-134 extracts key identifiers (campaign_id,
# creator_name, brand_id, product_sku, ...), never date-valued properties,
# and leaves plain scalar properties to attribute handling.
#
# The deterministic rules below are deliberately SQL-expressible (line
# split + split_part for speakers; json_keys/json_extract for fields) so the
# driver's DuckDB oracles can re-derive them from RAW page content — the
# dispatch itself gets a hard correctness gate, not just the downstream
# algebra.
# ---------------------------------------------------------------------------

# "part before the colon": a handle or a full name, colon-terminated at the
# start of a message line. Non-greedy + the \s anchor keep URL-ish bodies
# ("see https://x") from matching.
_MSG_SPEAKER_RE = re.compile(r"^([A-Za-z][A-Za-z0-9_ .\-]{0,63}?):\s")


def split_messages(text: str) -> list[tuple[str | None, str]]:
    """One message per non-blank line -> (speaker | None, body)."""
    out = []
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        m = _MSG_SPEAKER_RE.match(line)
        if m:
            out.append((m.group(1).strip(), line[m.end():]))
        else:
            out.append((None, line))
    return out


def extract_message_mentions(text: str, classifier=None) -> list[Mention]:
    """Message-episode mention detection (extract_message_nodes analog,
    node_operations.py:67-85). Speakers FIRST across the whole episode
    (rule 1, prompts/extract_nodes.py:91 — always extracted, always Person,
    flagged ``speaker=True``), then the standard Title-Case scan over each
    message body."""
    if classifier is None:
        classifier = classify_name
    seen: set[str] = set()
    mentions: list[Mention] = []
    msgs = split_messages(text)
    for spk, _body in msgs:
        if spk is not None and spk not in seen:
            seen.add(spk)
            mentions.append(Mention(spk, "Person", 0, speaker=True))
    offset = 0
    for _spk, body in msgs:
        for m in extract_mentions(body, classifier):
            if m.name not in seen:
                seen.add(m.name)
                mentions.append(Mention(m.name, m.label, offset + m.start))
        offset += len(body) + 2
    return mentions


def extract_message_triples(text: str, ref_ts: datetime,
                            _cache: dict | None = None) -> list[Triple]:
    """Triple extraction over message bodies (speaker prefix stripped per
    line — the reference's edge pass runs on the same content the node pass
    saw, edge_operations.py:73-148)."""
    triples: list[Triple] = []
    for _spk, body in split_messages(text):
        triples.extend(extract_triples(body, ref_ts, _cache))
    return triples


# JSON field rules (prompts/extract_nodes.py:111-134): keys that carry
# entity identity vs relation keys vs date keys vs plain attributes.
_JSON_ENTITY_KEY_RE = re.compile(r"(?:^name$|.*_name$|.*_id$|.*_sku$)")
# relation key -> CAPS predicate is uniformly upper() — kept that way so the
# DuckDB oracle is a one-liner
JSON_RELATION_KEYS = {
    k: k.upper() for k in (
        "sponsors", "works_for", "lives_in", "likes", "dislikes", "manages",
        "features", "participates_in", "collaborates_with",
    )
}
_JSON_DATE_KEYS_VALID = ("since", "valid_from")
_JSON_DATE_KEYS_INVALID = ("until", "valid_to")
_DATEISH_VALUE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}")


def parse_json_episode(text: str) -> dict | None:
    """json.loads that degrades to None on malformed content — crawled
    payloads must never kill the extraction task."""
    import json as _json
    try:
        obj = _json.loads(text)
    except Exception:
        return None
    return obj if isinstance(obj, dict) else None


def _json_items(obj, prefix: str = ""):
    """Depth-first (document-order) walk yielding (leaf_key, value) for
    scalar leaves; nested dicts/lists are flattened (the LLM reads the whole
    payload — node_operations.py:109-124). Leaf key = last path segment, so
    the flat-object rules apply at any depth."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            yield from _json_items(v, str(k))
    elif isinstance(obj, list):
        for v in obj:
            yield from _json_items(v, prefix)
    else:
        yield prefix, obj


def json_entity_fields(text: str) -> list[tuple[str, str]]:
    """(key, value) pairs whose key names an entity identifier and whose
    value is a usable non-date string (rules 1+4 of
    prompts/extract_nodes.py:128-133)."""
    obj = parse_json_episode(text)
    if obj is None:
        return []
    out = []
    for k, v in _json_items(obj):
        if not isinstance(v, str) or not v.strip():
            continue
        if _DATEISH_VALUE_RE.match(v.strip()):
            continue  # rule 4: no date-valued properties
        if _JSON_ENTITY_KEY_RE.fullmatch(k) or k in JSON_RELATION_KEYS:
            out.append((k, v.strip()))
    return out


def extract_json_mentions(text: str, classifier=None) -> list[Mention]:
    """JSON-episode mention detection (extract_json_nodes analog,
    node_operations.py:109-124): values are taken VERBATIM (no Title-Case
    trimming — JSON identity fields are already exact), relation targets
    count as entities (rule 1 of extract_edges: both endpoints must be
    extracted nodes)."""
    if classifier is None:
        classifier = classify_name
    seen: set[str] = set()
    mentions: list[Mention] = []
    for i, (_k, v) in enumerate(json_entity_fields(text)):
        if v not in seen:
            seen.add(v)
            mentions.append(Mention(v, classifier(v), i))
    return mentions


def extract_json_triples(text: str, ref_ts: datetime) -> list[Triple]:
    """JSON-episode triple extraction: subject = the 'name' field (falling
    back to the first *_name field in document order), one triple per
    relation key whose value is an extracted entity; 'since'/'until'
    (valid_from/valid_to) fields set explicit bi-temporal bounds. fact is
    the canonical "<subj> <key> <obj>." sentence so downstream dedup and
    the DuckDB oracle agree byte-for-byte."""
    fields = json_entity_fields(text)
    subject = None
    for k, v in fields:
        if k == "name":
            subject = v
            break
    if subject is None:
        for k, v in fields:
            if k.endswith("_name"):
                subject = v
                break
    if subject is None:
        return []
    obj = parse_json_episode(text)
    # fixed KEY priority, not document order: 'since' beats 'valid_from'
    # and 'until' beats 'valid_to' regardless of where they appear in the
    # payload — the same coalesce(since, valid_from) rule the DuckDB
    # oracle applies (kg_oracle.py kg_json_triples), so the twin rules
    # cannot diverge on payloads carrying both spellings
    dated: dict[str, datetime] = {}
    for k, v in _json_items(obj):
        if isinstance(v, str) and k not in dated and (
                k in _JSON_DATE_KEYS_VALID or k in _JSON_DATE_KEYS_INVALID):
            d = _parse_date_token(v.strip())
            if d is not None:
                dated[k] = d
    valid_at = next((dated[k] for k in _JSON_DATE_KEYS_VALID if k in dated),
                    None)
    invalid_at = next((dated[k] for k in _JSON_DATE_KEYS_INVALID
                       if k in dated), None)
    explicit = valid_at is not None or invalid_at is not None
    triples = []
    for k, v in fields:
        pred = JSON_RELATION_KEYS.get(k)
        if pred is None or v == subject:
            continue
        fact = f"{subject} {k} {v}."
        triples.append(Triple(subject, pred, v, fact,
                              valid_at, invalid_at, explicit))
    return triples


# LLMClient._clean_input port (llm_client/client.py:63-83; contract pinned
# by tests/llm_client/test_client.py:28-60): the reference cleans episode
# content before any extraction prompt sees it, so the batch extractor
# applies the same cleaning at its dispatch entry. Keeps \n\r\t, strips
# other C0 controls (ord < 32), zero-width/invisible chars, and invalid
# Unicode (lone surrogates). DEL (0x7f) is kept — the reference's
# ``ord(char) >= 32`` rule keeps it too.
_ZERO_WIDTH_RE = re.compile("[\u200b\u200c\u200d\ufeff\u2060]")
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def clean_input(text: str) -> str:
    """Strip invalid Unicode, zero-width and control characters
    (LLMClient._clean_input, llm_client/client.py:63-83)."""
    try:
        text.encode("utf-8")
    except UnicodeEncodeError:
        text = text.encode("utf-8", errors="ignore").decode("utf-8")
    if _ZERO_WIDTH_RE.search(text):
        text = _ZERO_WIDTH_RE.sub("", text)
    if _CTRL_RE.search(text):
        text = _CTRL_RE.sub("", text)
    return text


def extract_mentions_for(source: str, text: str, classifier=None) -> list[Mention]:
    """EpisodeType dispatch (node_operations.py:177-187)."""
    text = clean_input(text)
    if source == "message":
        return extract_message_mentions(text, classifier)
    if source == "json":
        return extract_json_mentions(text, classifier)
    return extract_mentions(text, classifier)


def extract_triples_for(source: str, text: str, ref_ts: datetime,
                        _cache: dict | None = None) -> list[Triple]:
    text = clean_input(text)
    if source == "message":
        return extract_message_triples(text, ref_ts, _cache)
    if source == "json":
        return extract_json_triples(text, ref_ts)
    return extract_triples(text, ref_ts, _cache)


# ---------------------------------------------------------------------------
# Normalization / similarity / embeddings
# ---------------------------------------------------------------------------

def normalize_name(name: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9 ]", " ", name.lower())).strip()


_REL_HINTS = ("ago", "yesterday", "last ")


def normalize_fact(fact: str) -> str:
    """Fact-dedup key: lowercase, strip punctuation AND date phrases so the
    same assertion restated with/without its date phrase merges
    (edge_operations.py:151-192 LLM dedup analog).

    Fast-path gate (bit-identical): every absolute pattern in
    DATE_STRIP_RES requires a 4-digit year and every relative phrase
    carries one of the literal lowercase _REL_HINTS substrings, so a fact
    with neither cannot match any strip pattern — the 6-regex chain is
    skipped on the overwhelmingly common date-free fact."""
    s = fact
    if _ABS_DATE_HINT_RE.search(s) is not None or any(h in s for h in _REL_HINTS):
        for rx in DATE_STRIP_RES:
            s = rx.sub(" ", s)
    return normalize_name(s)


def norm_shingles(norm: str, k: int = 3) -> list[str]:
    """Character k-shingles of an ALREADY-normalized name — the single
    shingle definition every kernel (spec ``hash_embedding``, the batched
    UDF embedder, MinHash banding) derives from."""
    padded = f"^{norm}$"
    if len(padded) <= k:
        return [padded]
    return sorted({padded[i: i + k] for i in range(len(padded) - k + 1)})


def name_shingles(name: str, k: int = 3) -> list[str]:
    """Character k-shingles of the normalized name, for MinHash-LSH blocking."""
    return norm_shingles(normalize_name(name), k)


def _stable_hash(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


EMBED_DIM = 1024  # reference embedder dim (graphiti_core/embedder/client.py:22)


def hash_embedding(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic feature-hashing embedding (EmbedderClient analog,
    SURVEY.md §2.9): token + char-3-gram features, signed hashing trick,
    L2-normalized."""
    vec = [0.0] * dim
    n = normalize_name(text)
    feats = n.split() + name_shingles(text)
    for f in feats:
        h = _stable_hash(f)
        idx = h % dim
        sign = 1.0 if (h >> 62) & 1 else -1.0
        vec[idx] += sign
    norm = sum(v * v for v in vec) ** 0.5
    if norm == 0:
        return vec
    return [v / norm for v in vec]


def cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    da = sum(x * x for x in a) ** 0.5
    db = sum(y * y for y in b) ** 0.5
    if da == 0 or db == 0:
        return 0.0
    return num / (da * db)


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


# Linking thresholds (min_score 0.6 analog of search_utils.py:50 used by the
# dedup candidate search, get_relevant_nodes search_utils.py:638-676)
LINK_JACCARD_THRESHOLD = 0.35
LINK_COSINE_THRESHOLD = 0.60


def is_abbreviation_pair(a: str, b: str) -> bool:
    """'priya sharma' vs 'priya s' style alias detection: same first token,
    every later token of the shorter is a prefix of the longer's."""
    ta, tb = normalize_name(a).split(), normalize_name(b).split()
    if not ta or not tb or ta[0] != tb[0]:
        return False
    if len(ta) != len(tb):
        return False
    short, long_ = (ta, tb) if sum(map(len, ta)) <= sum(map(len, tb)) else (tb, ta)
    return all(l.startswith(s) for s, l in zip(short, long_))


def should_link(name_a: str, name_b: str,
                dynamic_a: bool | None = None,
                dynamic_b: bool | None = None) -> bool:
    """The single linking decision rule shared by oracle and Spark pipeline:
    exact normalized match, abbreviation alias, or shingle-Jaccard + embedding
    cosine above thresholds. Dynamic events NEVER link (they chain via
    PREVIOUS_INSTANCE instead — node_operations.py:56-64,379-394).

    ``dynamic_a``/``dynamic_b``: the caller's authoritative dynamic flags
    (from the mention label, possibly a custom EntityTypeRegistry type with
    dynamic=True). When omitted, falls back to the built-in classifier —
    callers that classify with a registry MUST pass the flags so the spec
    and the pipeline agree."""
    na, nb = normalize_name(name_a), normalize_name(name_b)
    if dynamic_a is None:
        dynamic_a = classify_name(name_a) == "DynamicEvent"
    if dynamic_b is None:
        dynamic_b = classify_name(name_b) == "DynamicEvent"
    if dynamic_a or dynamic_b:
        return False
    if na == nb:
        return True
    if is_abbreviation_pair(name_a, name_b):
        return True
    if jaccard(name_shingles(name_a), name_shingles(name_b)) >= LINK_JACCARD_THRESHOLD:
        return cosine(hash_embedding(name_a), hash_embedding(name_b)) >= LINK_COSINE_THRESHOLD
    return False


# MinHash-LSH banding (blocking for the entity-linking similarity self-join,
# analog of the fulltext/vector candidate search get_relevant_nodes,
# search_utils.py:638-676). The SAME band keys are computed by the Spark
# pipeline (vectorized, kgspark/udfs.py) and the oracle, so candidate
# generation is bit-identical on both sides.

MINHASH_ROWS = 3    # r: signature rows per band
MINHASH_BANDS = 32  # b: bands; P(catch | jaccard=0.5) = 1-(1-0.5^3)^32 ≈ 0.99


def minhash_band_keys(name: str, rows: int = MINHASH_ROWS, bands: int = MINHASH_BANDS) -> list[str]:
    """LSH band keys for a name: md5-seeded minhash over char shingles,
    ``bands`` keys of ``rows`` minima each."""
    sh = name_shingles(name)
    keys = []
    for b in range(bands):
        sig = []
        for r in range(rows):
            i = b * rows + r
            sig.append(min(_stable_hash(f"mh{i}|{s}") for s in sh))
        keys.append(f"b{b}|" + md5_hex("|".join(map(str, sig)))[:16])
    return keys


# ---------------------------------------------------------------------------
# Deterministic ids
# ---------------------------------------------------------------------------

def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def entity_uuid(group_id: str, name: str) -> str:
    return md5_hex(f"ent|{group_id}|{normalize_name(name)}")


def edge_uuid(group_id: str, src: str, pred: str, dst: str, norm_fact: str) -> str:
    return md5_hex(f"edge|{group_id}|{src}|{pred}|{dst}|{norm_fact}")


def contradiction_keys(subject_uuid: str, predicate: str, object_uuid: str) -> list[str]:
    """All contradiction-scope keys one fact participates in. Two facts
    contradict iff they share a key (and, for pair scope, their predicates
    share a class; for functional scope, their objects differ — the caller
    filters). Used identically by the batch window pass and the oracle."""
    keys = []
    cls = CONTRA_PAIR_CLASSES.get(predicate)
    if cls is not None:
        lo, hi = sorted([subject_uuid, object_uuid])
        keys.append(f"pair|{cls}|{lo}|{hi}")
    if predicate in FUNCTIONAL_PREDICATES:
        keys.append(f"subj|{predicate}|{subject_uuid}")
    return keys

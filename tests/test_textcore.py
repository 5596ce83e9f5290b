"""Unit tests for the pure extraction core (kgspark/textcore.py).

Covers the contracts ported from the reference test strategy (SURVEY.md §5):
html→text byte determinism, mention rules, triple extraction rules, date
parsing (explicit / relative / span / present-tense default), linking rule.
"""

from datetime import datetime, timedelta

from kgspark import textcore as tc


def test_html_to_text_strips_and_decodes():
    html = ("<html><head><title>snap</title><script>var a=1;</script>"
            "<style>.x{}</style></head><body><!-- c -->"
            "<p>Alpha &amp; Beta&#39;s   page.</p><p>second line</p></body></html>")
    assert tc.html_to_text(html) == "snap\nAlpha & Beta's page.\nsecond line"


def test_html_to_text_bytes_identical():
    html = "<p>café &#x41;</p>".encode("utf-8")
    assert tc.html_to_text(html) == "café A"


def test_mentions_speaker_first_and_stopwords():
    text = "priya_sharma: Priya Sharma works for Glowco since March 1, 2024."
    names = [m.name for m in tc.extract_mentions(text)]
    assert names[0] == "priya_sharma"  # speaker-first rule
    assert "Priya Sharma" in names and "Glowco" in names
    assert "March" not in names  # no date/month nodes


def test_mentions_dynamic_event_with_date():
    ms = tc.extract_mentions("Rahul Mehta reports Outage 2024-03-05.")
    by = {m.name: m.label for m in ms}
    assert by["Outage 2024-03-05"] == "DynamicEvent"
    assert by["Rahul Mehta"] == "Person"


def test_triples_caps_predicates_between_entities_only():
    ref = datetime(2024, 3, 5)
    ts = tc.extract_triples("Alice Wong likes Glowco. the dashboard was slow.", ref)
    assert len(ts) == 1
    t = ts[0]
    assert (t.subject, t.predicate, t.object) == ("Alice Wong", "LIKES", "Glowco")
    assert t.predicate == t.predicate.upper()


def test_triples_self_loop_dropped():
    ref = datetime(2024, 3, 5)
    assert tc.extract_triples("Glowco likes Glowco.", ref) == []


def test_date_parse_explicit_and_span():
    ref = datetime(2024, 3, 5, 12)
    v, i, ex = tc.parse_dates("x works for y since March 1, 2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 1), None, True)
    v, i, ex = tc.parse_dates("a features b from January 1, 2024 to January 31, 2024", ref)
    assert v == datetime(2024, 1, 1) and i == datetime(2024, 1, 31) and ex


def test_date_invalid_since_does_not_shadow_on():
    # a calendar-invalid 'since' token must fall through to a parseable
    # 'on' date (same rule as the from-to branch)
    ref = datetime(2024, 3, 5, 12)
    v, i, ex = tc.parse_dates(
        "x works for y since 2024-99-99 on March 5, 2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 5), None, True)


def test_date_parse_relative_vs_reference():
    # relative → absolute against reference ts (extract_edge_dates rule 2)
    ref = datetime(2024, 3, 5, 12)
    v, _, ex = tc.parse_dates("they met yesterday", ref)
    assert v == datetime(2024, 3, 4) and ex


def test_date_present_tense_defaults_via_caller():
    # rule 3: no phrase → caller defaults valid_at to reference ts
    ref = datetime(2024, 3, 5, 12)
    ts = tc.extract_triples("Alice Wong likes Glowco.", ref)
    assert ts[0].valid_at is None and not ts[0].explicit_dates


def test_date_parse_bare_year():
    # "If only a year is mentioned, use January 1st" (extract_edge_dates
    # rule 5, second half)
    ref = datetime(2024, 3, 5, 12)
    v, i, ex = tc.parse_dates("x works for y since 2019", ref)
    assert (v, i, ex) == (datetime(2019, 1, 1), None, True)
    v, i, ex = tc.parse_dates("a sponsors b from 2019 to 2023", ref)
    assert (v, i, ex) == (datetime(2019, 1, 1), datetime(2023, 1, 1), True)
    v, i, ex = tc.parse_dates("c features d until 2025", ref)
    assert (v, i, ex) == (None, datetime(2025, 1, 1), True)
    v, i, ex = tc.parse_dates("e acquired f in 2021", ref)
    assert (v, i, ex) == (datetime(2021, 1, 1), None, True)
    # a full date must always win over its own year prefix
    v, _, _ = tc.parse_dates("x works for y since 2024/03/15", ref)
    assert v == datetime(2024, 3, 15)
    v, _, _ = tc.parse_dates("x works for y since March 2024", ref)
    assert v == datetime(2024, 3, 1)
    # century-bounded: quantities never read as years; "on <year>" excluded
    assert tc.parse_dates("shipped since 3500 units", ref) == (None, None, False)
    assert tc.parse_dates("standardized on 2024 devices", ref) == (None, None, False)
    # a longer digit run can't half-match as its year prefix
    assert tc.parse_dates("tracked since 20240315", ref) == (None, None, False)


def test_date_parse_relative_months_years():
    # rule 2 breadth: month/year-granular relative phrases (flat 30d/365d,
    # same convention as "last month")
    ref = datetime(2024, 3, 5, 12)
    day0 = datetime(2024, 3, 5)
    v, _, ex = tc.parse_dates("they merged 3 months ago", ref)
    assert v == day0 - timedelta(days=90) and ex
    v, _, ex = tc.parse_dates("g acquired h 2 years ago", ref)
    assert v == day0 - timedelta(days=730) and ex
    v, _, ex = tc.parse_dates("they partnered last year", ref)
    assert v == day0 - timedelta(days=365) and ex


def test_normalize_fact_strips_new_date_forms():
    # restatements with/without the new date phrases share a dedup class
    base = tc.normalize_fact("Priya Sharma works for Glowco")
    assert tc.normalize_fact("Priya Sharma works for Glowco since 2019") == base
    assert tc.normalize_fact("Priya Sharma works for Glowco 3 months ago") == base
    assert tc.normalize_fact("Priya Sharma works for Glowco last year") == base


def test_linking_rule():
    assert tc.should_link("Priya Sharma", "Priya Sh")      # abbreviation
    assert tc.should_link("Priya Sharma", "priya_sharma")  # norm-equal
    assert not tc.should_link("Priya Sharma", "Rahul Mehta")
    # dynamic events never merge (node_operations.py:56-64)
    assert not tc.should_link("Outage 2024-03-05", "Outage 2024-04-09")


def test_contradiction_keys():
    ks = tc.contradiction_keys("u1", "WORKS_FOR", "u2")
    assert any(k.startswith("pair|employment|") for k in ks)
    assert any(k.startswith("subj|WORKS_FOR|u1") for k in ks)
    assert tc.contradiction_keys("u1", "SPONSORS", "u2") == []


def test_ids_deterministic():
    assert tc.entity_uuid("g1", "Priya Sharma") == tc.entity_uuid("g1", "priya  sharma")
    assert tc.entity_uuid("g1", "X") != tc.entity_uuid("g2", "X")


def test_calendar_invalid_dates_do_not_crash():
    # web text carries date-shaped serial numbers; a ValueError here would
    # kill the extraction task for the whole corpus (r2 review finding)
    ref = datetime(2025, 1, 1)
    ts = tc.extract_triples("Priya Sharma works for Glowco on 2024-13-45.", ref)
    assert ts and ts[0].valid_at is None and not ts[0].explicit_dates
    assert tc.parse_dates("it happened on May 99, 2024", ref) == (None, None, False)
    # an all-invalid from-to falls through to the remaining patterns
    v, i, ex = tc.parse_dates(
        "from 2024-99-99 to 2024-88-88 but until March 5, 2024", ref)
    assert (v, i, ex) == (None, datetime(2024, 3, 5), True)
    # a valid date elsewhere in the sentence still parses
    v, _, ex = tc.parse_dates("x on 2024-13-45 and since 2024-02-03", ref)
    assert (v, ex) == (datetime(2024, 2, 3), True)


def test_overlong_entity_reference_degrades_to_literal():
    # &#<huge>; must not raise OverflowError from chr() (r2 review finding)
    s = '<p>x &#12345678901234567890123; y &#x10000000000000000000; z</p>'
    assert tc.html_to_text(s) == 'x &#12345678901234567890123; y &#x10000000000000000000; z'


def test_should_link_label_authority():
    # caller-supplied dynamic flags (mention labels, possibly from a custom
    # registry) take precedence over re-classifying the names
    assert not tc.should_link("Alpha Corp", "Alpha Corp", dynamic_a=True)
    assert tc.should_link("Outage 2024-03-05", "outage 2024 03 05",
                          dynamic_a=False, dynamic_b=False)
    # default fallback unchanged: built-in classifier vetoes dynamic events
    assert not tc.should_link("Outage 2024-03-05", "Outage 2024-04-09")


# ---------------------------------------------------------------------------
# EpisodeType dispatch: message / json variants (round-3)
# reference: nodes.py:42-75; node_operations.py:67-124,177-187;
# prompts/extract_nodes.py:91 (speaker rule), :111-134 (json rules)
# ---------------------------------------------------------------------------

def test_message_speaker_first():
    text = ("riya_sharma: Alice Wong works for Glowco since March 5, 2024\n"
            "Priya Sharma: the Summer Glow Campaign features Glowco")
    ms = tc.extract_message_mentions(text)
    # ALL speakers first (rule 1), flagged; Title-Case speakers extracted too
    assert [(m.name, m.speaker) for m in ms[:2]] == [
        ("riya_sharma", True), ("Priya Sharma", True)]
    assert all(m.label == "Person" for m in ms[:2])
    body = {m.name for m in ms if not m.speaker}
    assert body == {"Alice Wong", "Glowco", "Summer Glow Campaign"}
    # triples come from speaker-stripped bodies
    ts = tc.extract_message_triples(text, datetime(2024, 6, 1))
    got = {(t.subject, t.predicate, t.object) for t in ts}
    assert got == {("Alice Wong", "WORKS_FOR", "Glowco"),
                   ("Summer Glow Campaign", "FEATURES", "Glowco")}
    assert [t.valid_at for t in ts if t.predicate == "WORKS_FOR"] == \
        [datetime(2024, 3, 5)]


def test_message_speaker_not_duplicated_and_urls_safe():
    # a speaker also mentioned in a body stays one mention (speaker wins);
    # a URL-ish body ("see https://x") must not match the speaker rule
    text = ("bob_w: Priya Sharma likes Glowco\n"
            "priya_sharma: see https://example.org and more\n"
            "Priya Sharma: hello")
    ms = tc.extract_message_mentions(text)
    names = [m.name for m in ms]
    assert names.count("Priya Sharma") == 1
    assert next(m for m in ms if m.name == "Priya Sharma").speaker
    assert "https" not in " ".join(names)


def test_json_entity_and_relation_rules():
    js = ('{"name": "SummerGlow Campaign", "campaign_id": "SG-11", '
          '"brand_name": "Glowco", "features": "Glowco", '
          '"since": "2024-03-05", "launch_date": "2024-03-05", '
          '"budget": 1200, "status": "active"}')
    ms = tc.extract_json_mentions(js)
    # *_id/*_name/relation values are entities; date values and plain
    # scalar attributes (budget/status) are NOT (rules 1,3,4)
    assert [m.name for m in ms] == ["SummerGlow Campaign", "SG-11", "Glowco"]
    ts = tc.extract_json_triples(js, datetime(2024, 6, 1))
    assert [(t.subject, t.predicate, t.object, t.fact) for t in ts] == [
        ("SummerGlow Campaign", "FEATURES", "Glowco",
         "SummerGlow Campaign features Glowco.")]
    assert ts[0].valid_at == datetime(2024, 3, 5) and ts[0].explicit_dates


def test_json_date_key_priority_not_document_order():
    # fixed KEY priority: 'since' beats 'valid_from' (and 'until' beats
    # 'valid_to') even when the payload lists them the other way round —
    # the same coalesce order the kg_json_triples DuckDB oracle applies,
    # so the twin rules cannot diverge on both-spellings payloads
    js = ('{"name": "SummerGlow Campaign", "features": "Glowco", '
          '"valid_from": "2024-01-01", "since": "2024-02-02", '
          '"valid_to": "2024-11-11", "until": "2024-12-12"}')
    ts = tc.extract_json_triples(js, datetime(2024, 6, 1))
    assert ts[0].valid_at == datetime(2024, 2, 2)
    assert ts[0].invalid_at == datetime(2024, 12, 12)
    assert ts[0].explicit_dates


def test_json_nested_and_malformed():
    # nested payloads flatten in document order; malformed content degrades
    # to zero mentions, never an exception
    js = ('{"campaign": {"name": "Mega Deal Campaign", '
          '"sponsors": "Nexco"}, "tags": ["x"]}')
    assert [m.name for m in tc.extract_json_mentions(js)] == \
        ["Mega Deal Campaign", "Nexco"]
    ts = tc.extract_json_triples(js, datetime(2024, 6, 1))
    assert [(t.subject, t.predicate, t.object) for t in ts] == \
        [("Mega Deal Campaign", "SPONSORS", "Nexco")]
    assert tc.extract_json_mentions("{not json") == []
    assert tc.extract_json_triples("[1,2]", datetime(2024, 6, 1)) == []


def test_dispatch_matches_per_source():
    txt = "Priya Sharma likes Glowco"
    ref = datetime(2024, 6, 1)
    assert tc.extract_mentions_for("text", txt) == tc.extract_mentions(txt)
    assert tc.extract_triples_for("text", txt, ref) == tc.extract_triples(txt, ref)
    msg = "rs: " + txt
    assert tc.extract_mentions_for("message", msg) == \
        tc.extract_message_mentions(msg)
    js = '{"name": "Priya Sharma", "likes": "Glowco"}'
    assert tc.extract_mentions_for("json", js) == tc.extract_json_mentions(js)
    # json restatement lands in the SAME dedup class as the text fact
    jt = tc.extract_triples_for("json", js, ref)[0]
    tt = tc.extract_triples_for("text", txt, ref)[0]
    assert tc.normalize_fact(jt.fact) == tc.normalize_fact(tt.fact)


def test_clean_input_reference_cases():
    """Exact port of tests/llm_client/test_client.py:28-60 — the
    LLMClient._clean_input contract (llm_client/client.py:63-83), applied
    here at the extraction dispatch entry."""
    cases = [
        ("Hello World", "Hello World"),                 # unchanged
        ("Hello\x00World", "HelloWorld"),               # control chars
        ("Hello\nWorld\tTest\r", "Hello\nWorld\tTest\r"),  # \n\t\r kept
        ("Hello\udcdeWorld", "HelloWorld"),             # invalid Unicode
        ("Hello​World", "HelloWorld"),             # zero-width
        ("Test﻿Word", "TestWord"),                 # BOM
        ("Hello\x00​\nWorld\udcde", "Hello\nWorld"),  # combined
        ("", ""),
    ]
    for raw, want in cases:
        assert tc.clean_input(raw) == want, repr(raw)
    # extraction sees cleaned text: a zero-width char inside a name must
    # not split the mention
    dirty = "Priya​ Sharma likes Glowco"
    ms = tc.extract_mentions_for("text", dirty)
    assert any(m.name == "Priya Sharma" for m in ms)


def test_sentence_cache_parity_across_ref_ts():
    # the shared sentence-proto cache must be transparent: cached results
    # are ref_ts-independent protos, and per-page date resolution happens
    # after the cache (textcore.sentence_protos / _apply_ref split).
    # Sentences cover: relative date (ref-dependent), absolute date,
    # until-only, from-to, and no date — shared across pages whose
    # timestamps differ, in both text and message form.
    from datetime import datetime

    sents = [
        "Priya Sharma joined Glowco yesterday.",
        "Rahul Mehta likes Glowco since 2024-01-02.",
        "Alice Wong managed Team Atlas until 2024-05-06.",
        "Marco Rossi sponsors SummerGlow from 2024-01-01 to 2024-02-01.",
        "Yuki Tanaka collaborates with Amara Okafor.",
    ]
    page = " ".join(sents)
    msg_page = "\n".join(f"rahul_m: {s}" for s in sents)
    refs = [datetime(2024, 6, 1, 12), datetime(2025, 2, 3), datetime(2024, 6, 1)]

    cache: dict = {}
    for src, text in (("text", page), ("message", msg_page)):
        for ref in refs:
            cached = tc.extract_triples_for(src, text, ref, cache)
            fresh = tc.extract_triples_for(src, text, ref)
            assert cached == fresh, (src, ref)
    assert cache  # the shared cache was actually exercised


def test_date_parse_r4_grammar_breadth():
    # r4 additions (extract_edge_dates.py:77-87 analogs): numeric slash,
    # numeric dot (day-first), month-year -> first of month, "in <month
    # year>" trigger, and "N days/weeks ago" relatives
    from datetime import datetime
    ref = datetime(2024, 6, 10, 9)
    v, i, ex = tc.parse_dates("x works for y since 2024/03/15", ref)
    assert (v, i, ex) == (datetime(2024, 3, 15), None, True)
    v, i, ex = tc.parse_dates("x works for y since 15.03.2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 15), None, True)
    v, i, ex = tc.parse_dates("x works for y since March 2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 1), None, True)
    v, i, ex = tc.parse_dates("they became partners in March 2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 1), None, True)
    v, i, ex = tc.parse_dates("a features b from 2024/01/05 to 31.01.2024", ref)
    assert v == datetime(2024, 1, 5) and i == datetime(2024, 1, 31) and ex
    v, _, ex = tc.parse_dates("the issue started 3 days ago", ref)
    assert v == datetime(2024, 6, 7) and ex
    v, _, ex = tc.parse_dates("they became partners 2 weeks ago", ref)
    assert v == datetime(2024, 5, 27) and ex
    # calendar-invalid numerics parse to None, no crash, no explicitness
    assert tc.parse_dates("x on 2024/13/45", ref) == (None, None, False)
    assert tc.parse_dates("x since 45.13.2024", ref) == (None, None, False)
    # 'in <City>' is never a date trigger
    assert tc.parse_dates("Ana lives in Quito City", ref) == (None, None, False)
    # long date is NOT half-eaten by the month-year alternation
    v, i, ex = tc.parse_dates("x works for y since March 5, 2024", ref)
    assert (v, i, ex) == (datetime(2024, 3, 5), None, True)


def test_date_phrases_strip_from_dedup_key():
    # every new form lands in the SAME norm_fact dedup class as the
    # undated restatement (the oracle strips the same patterns in SQL)
    base = tc.normalize_fact("Ana Ruiz works for Acme")
    for phrase in ("since 2024/03/15", "since 15.03.2024",
                   "since March 2024", "in March 2024",
                   "3 days ago", "2 weeks ago", "yesterday"):
        assert tc.normalize_fact(f"Ana Ruiz works for Acme {phrase}") == base


def test_split_sentences_keeps_dotted_dates():
    got = tc.split_sentences("A works for B since 15.03.2024. C likes D.")
    assert got == ["A works for B since 15.03.2024", "C likes D"]

"""Property tests (SURVEY.md §5.2 item 3): the Catalyst rule battery
and scrub chain agree row-for-row with the pure-Python oracle on
random documents.

Alphabet: ASCII printable + every Java-\\s whitespace except \\x0b
(vertical tab is the one char outside the three-engine contract —
RE2's \\s lacks it; functions/text.py documents the exclusion), plus
non-ASCII probes (NBSP, superscript two, vulgar half, accented and CJK
letters) — the round-1 ADVICE divergences (CRLF line trimming, Unicode
category drift in symbol ratio) were exactly the chars this alphabet
used to omit. Batched: hypothesis generates corpora, one Spark job per
corpus."""

from __future__ import annotations

import re
import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_quality_checker_spark.plans import oracle as O
from data_quality_checker_spark.plans.rules import RuleConfig
from data_quality_checker_spark.plans.scrub import (
    SCRUB_PATTERNS,
    scrub_python,
)
from data_quality_checker_spark.plans.verdict import (
    with_rule_flags,
    with_verdict,
)
from data_quality_checker_spark.plans.scrub import with_scrub

_ALPHABET = (
    string.ascii_letters
    + string.digits
    + string.punctuation
    + " \n\t\r\f"
    + " ²½é漢"
)

_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=_ALPHABET, max_size=400),
        # PII-shaped fragments mixed into prose
        st.builds(
            lambda a, b: f"{a} reach me at j.doe+x@mail-x.example.com or "
            f"+1 (555) 123-4567 via 10.0.0.1 {b}",
            st.text(alphabet=_ALPHABET, max_size=80),
            st.text(alphabet=_ALPHABET, max_size=80),
        ),
    ),
    min_size=1,
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=_texts)
@_SETTINGS
def test_verdict_matches_python_oracle(spark, texts):
    cfg = RuleConfig()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: (r["keep"], list(r["fired_rules"]))
        for r in with_verdict(with_rule_flags(df, cfg), cfg)
        .select("id", "keep", "fired_rules")
        .collect()
    }
    for i, t in enumerate(texts):
        fired = O.fired_rules(t, cfg)
        assert got[i] == (not fired, fired), (
            f"doc {i}: spark={got[i]} oracle={(not fired, fired)} "
            f"text={t!r}"
        )


@given(texts=_texts)
@_SETTINGS
def test_scrub_byte_identical_to_python(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["scrubbed_text"]
        for r in with_scrub(df, "text").select("id", "scrubbed_text").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == scrub_python(t), f"doc {i}: {t!r}"


# texts dense in the characters the three PII patterns hinge on, plus
# the shapes where a guarded scrub could go wrong: an '@' that starts
# no email, an email at the very end, back-to-back emails, a phone run
# straight into an IP
_PII_ALPHABET = "@.+-_() 0123456789abcXYZ\n"
_pii_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=_PII_ALPHABET, max_size=120),
        st.builds(
            lambda a, b: f"{a} @ {b} a@ @b",
            st.text(alphabet=_PII_ALPHABET, max_size=40),
            st.text(alphabet=_ALPHABET, max_size=40),
        ),
        st.builds(
            lambda a: f"{a} mail x.y+z@host-1.example.org",
            st.text(alphabet=_PII_ALPHABET, max_size=40),
        ),
        st.builds(
            lambda a: f"a@b.co{a}c@d.io.e@f.gh",
            st.text(alphabet=_PII_ALPHABET, max_size=20),
        ),
        st.builds(
            lambda a: f"call +1 555.123.4567{a}192.168.0.1.5 555 123 4567",
            st.text(alphabet=_PII_ALPHABET, max_size=20),
        ),
    ),
    min_size=1,
    max_size=25,
)


@given(texts=_pii_texts)
@_SETTINGS
def test_scrub_counts_and_text_match_python(spark, texts):
    """with_scrub skips a pattern's replace when its count is 0 and the
    email count when the text has no '@'; scrubbed_text and every
    scrub_<kind> count must still equal the Python `re` reference."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    names = [name for name, _, _ in SCRUB_PATTERNS]
    got = {
        r["id"]: r
        for r in with_scrub(df, "text")
        .select("id", "scrubbed_text", *[f"scrub_{n}" for n in names])
        .collect()
    }
    for i, t in enumerate(texts):
        want, cur = {}, t
        for name, pat, repl in SCRUB_PATTERNS:
            want[name] = 0 if cur is None else len(re.findall(pat, cur))
            cur = None if cur is None else re.sub(pat, repl, cur)
        r = got[i]
        assert r["scrubbed_text"] == cur, f"doc {i}: {t!r}"
        assert {n: r[f"scrub_{n}"] for n in names} == want, f"doc {i}: {t!r}"

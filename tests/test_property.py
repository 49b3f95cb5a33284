"""Property-based tests (hypothesis) — mirrors the reference's
property-test layer (tests/unit/shared/schema/test_rule_schema_hypothesis
_correct.py): serialization round-trips, parser totality, scrub
idempotence, perplexity determinism. Pure Python — no Spark session."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from validatelite_spark.core.results import status_for
from validatelite_spark.core.rule_parser import parse_rule
from validatelite_spark.core.rules import Rule, RuleType, SeverityLevel
from validatelite_spark.core.types import format_to_strptime, parse_type
from validatelite_spark.functions.perplexity import MAX_PPL, perplexity_array
from validatelite_spark.functions.pii import scrub_array

_col = st.text(alphabet="abcdefgh_", min_size=1, max_size=12)


def _rules() -> st.SearchStrategy[Rule]:
    numeric = st.integers(-1000, 1000)

    def mk_range(col, a, b):
        return Rule(RuleType.RANGE, col, {"min": min(a, b), "max": max(a, b)})

    def mk_length(col, a, b):
        a, b = abs(a) % 500, abs(b) % 500
        return Rule(RuleType.LENGTH, col,
                    {"min_length": min(a, b), "max_length": max(a, b)})

    return st.one_of(
        st.builds(lambda c: Rule(RuleType.NOT_NULL, c), _col),
        st.builds(lambda c: Rule(RuleType.UNIQUE, c), _col),
        st.builds(mk_range, _col, numeric, numeric),
        st.builds(mk_length, _col, numeric, numeric),
        st.builds(lambda c, vs: Rule(RuleType.ENUM, c,
                                     {"allowed_values": vs}),
                  _col, st.lists(st.one_of(st.integers(), _col),
                                 min_size=1, max_size=8)),
        st.builds(lambda c: Rule(RuleType.REGEX, c,
                                 {"pattern": "^[a-z]+$"}), _col),
    )


class TestRuleProperties:
    @given(_rules())
    @settings(max_examples=200, deadline=None)
    def test_serialization_roundtrip(self, rule):
        again = Rule.from_dict(rule.to_dict())
        assert again.to_dict() == rule.to_dict()

    @given(_rules(), st.sampled_from(list(SeverityLevel)))
    @settings(max_examples=50, deadline=None)
    def test_severity_roundtrip(self, rule, sev):
        rule.severity = sev
        assert Rule.from_dict(rule.to_dict()).severity == sev

    @given(st.integers(0, 10_000), st.integers(0, 10_000),
           st.floats(0, 1))
    @settings(max_examples=200, deadline=None)
    def test_status_threshold_monotone(self, failed, extra, thr):
        total = failed + extra
        s = status_for(failed, total, thr)
        if failed == 0:
            assert s.value == "PASSED"
        if total and failed / total <= thr:
            assert s.value == "PASSED"
        # raising the threshold never flips PASSED → FAILED
        if s.value == "PASSED":
            assert status_for(failed, total, min(thr + 0.1, 1.0)).value == "PASSED"


class TestParserProperties:
    @given(st.integers(0, 400), st.integers(0, 400))
    @settings(max_examples=100, deadline=None)
    def test_range_parse_total(self, a, b):
        lo, hi = min(a, b), max(a, b)
        r = parse_rule(f"range(x,{lo},{hi})")
        assert r.parameters == {"min": lo, "max": hi}

    @given(st.sampled_from(["string", "integer", "float", "boolean",
                            "date", "datetime"]))
    def test_bare_types_parse(self, name):
        assert parse_type(name).data_type.value == name.upper().replace(
            "DATETIME", "DATETIME")

    @given(st.sampled_from(["YYYY", "MM", "DD", "HH", "MI", "SS"]),
           st.sampled_from(["-", "/", ":", ""]))
    def test_format_tokens_translate(self, tok, sep):
        out = format_to_strptime(tok + sep + tok)
        assert "%" in out and tok not in out


class TestScrubProperties:
    @given(st.text(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_scrub_idempotent(self, text):
        once = scrub_array(pa.array([text]))
        twice = scrub_array(once)
        assert once == twice

    @given(st.text(alphabet="abc def", max_size=100))
    @settings(max_examples=50, deadline=None)
    def test_scrub_noop_on_clean_text(self, text):
        assert scrub_array(pa.array([text], pa.string()))[0].as_py() == text


class TestPerplexityProperties:
    @given(st.lists(st.one_of(st.none(), st.text(max_size=120)),
                    min_size=1, max_size=20))
    @settings(max_examples=100, deadline=None)
    def test_batch_equals_rowwise(self, texts):
        """Vectorized batch scoring == one-at-a-time scoring (the
        doc-index segmentation introduces no cross-doc leakage)."""
        batch = perplexity_array(pa.array(texts, pa.string()))
        single = [perplexity_array(pa.array([t], pa.string()))[0]
                  for t in texts]
        for got, want in zip(batch, single):
            assert abs(got - want) < 1e-9

    @given(st.one_of(st.none(), st.just(""), st.just("x")))
    def test_degenerate_docs_score_max(self, t):
        assert perplexity_array(pa.array([t], pa.string()))[0] == MAX_PPL


class TestCodecProperties:
    """Round-trip laws for the pure-numpy media codecs — encode then
    decode recovers the array exactly, for arbitrary shapes/content."""

    @given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_bmp_ppm_roundtrip(self, h, w, seed):
        import numpy as np
        from validatelite_spark.operators import multimodal as mm
        img = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(mm.decode_bmp(mm.encode_bmp(img)), img)
        assert np.array_equal(mm.decode_pnm(mm.encode_ppm(img)), img)

    @given(st.integers(1, 400), st.integers(1, 3),
           st.sampled_from([8000, 16000, 44100]),
           st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_wav_roundtrip_quantized(self, n, ch, rate, seed):
        import numpy as np
        from validatelite_spark.operators import multimodal as mm
        s = np.random.default_rng(seed).uniform(-0.99, 0.99, size=(n, ch))
        dec, got_rate = mm.decode_wav(mm.encode_wav(s, rate))
        assert got_rate == rate and dec.shape == (n, ch)
        assert np.max(np.abs(dec - s)) < 1 / 32768 + 1e-12  # 16-bit LSB

    @given(st.integers(1, 5), st.integers(2, 10), st.integers(2, 10),
           st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_y4m_roundtrip(self, n, h, w, seed):
        import numpy as np
        from validatelite_spark.operators import multimodal as mm
        frames = np.random.default_rng(seed).integers(
            0, 256, size=(n, h, w), dtype=np.uint8)
        dec, fps = mm.decode_y4m(mm.encode_y4m(frames, 25))
        assert fps == 25.0 and np.array_equal(dec, frames)

    @given(st.binary(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_decoders_never_raise_on_junk(self, blob):
        from validatelite_spark.operators import multimodal as mm
        for fn in (mm.decode_bmp, mm.decode_pnm, mm.decode_wav,
                   mm.decode_y4m):
            fn(blob)  # None or a value — never an exception

    @given(st.integers(1, 40), st.integers(1, 40), st.integers(1, 8),
           st.integers(1, 8))
    @settings(max_examples=60, deadline=None)
    def test_resize_shape_and_membership(self, h, w, oh, ow):
        import numpy as np
        from validatelite_spark.operators.multimodal import resize_nearest
        arr = np.arange(h * w).reshape(h, w)
        out = resize_nearest(arr, oh, ow)
        assert out.shape == (oh, ow)
        assert np.isin(out, arr).all()  # nearest-neighbor: no new values


class TestExtractionProperties:
    @given(st.binary(max_size=500))
    @settings(max_examples=200, deadline=None)
    def test_extractor_total_on_arbitrary_bytes(self, blob):
        from validatelite_spark.functions.extraction import (
            extract_text_bytes)
        out = extract_text_bytes(blob)
        assert out is None or isinstance(out, str)

    @given(st.text(
        alphabet=st.characters(blacklist_categories=("Cs",),
                               blacklist_characters="\n\r"),
        min_size=1, max_size=200))
    @settings(max_examples=200, deadline=None)
    def test_escape_embed_extract_roundtrip(self, text):
        """The generator's escaping composed with the extractor is the
        identity on any newline-free text — the byte-identity invariant,
        property-tested beyond the planted page classes."""
        from validatelite_spark.functions.extraction import (
            extract_text_bytes)
        esc = (text.replace("&", "&amp;").replace("<", "&lt;")
               .replace(">", "&gt;"))
        html = f"<html><body><p>{esc}</p></body></html>"
        assert extract_text_bytes(html.encode()) == text

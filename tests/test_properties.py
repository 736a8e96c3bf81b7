"""Property-based tests (hypothesis) for the pure-Python kernels — the
similarity batteries and normalizer twins must hold their invariants for
ANY input, not just fixture names."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from metadata_reconciliation_tool_spark.fixtures import token_sort_py
from metadata_reconciliation_tool_spark.functions.normalize import normalize_name_py
from metadata_reconciliation_tool_spark.functions.similarity import (
    jaro_winkler_py,
    lev_ratio_py,
    levenshtein_py,
    lsh_keys_py,
    metaphone_py,
    name_align_py,
    surname_key_py,
)

text = st.text(max_size=60)
word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", max_size=20)


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_bounds_and_symmetry(a, b):
    s = jaro_winkler_py(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(s - jaro_winkler_py(b, a)) < 1e-12
    if a == b and a:
        assert s == 1.0


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_py(a, b)
    assert d == levenshtein_py(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))
    assert 0.0 <= lev_ratio_py(a, b) <= 1.0


@given(text)
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent(s):
    n = normalize_name_py(s)
    assert normalize_name_py(n) == n
    # normalized output never contains runs of whitespace or edge spaces
    assert n == n.strip()
    assert "  " not in n


@given(text)
@settings(max_examples=200, deadline=None)
def test_token_sort_idempotent_and_order_insensitive(s):
    n = normalize_name_py(s)
    ts = token_sort_py(n)
    assert token_sort_py(ts) == ts
    reversed_tokens = " ".join(reversed(n.split()))
    assert token_sort_py(reversed_tokens) == ts


@given(word)
@settings(max_examples=300, deadline=None)
def test_metaphone_stable_and_bounded(w):
    m = metaphone_py(w)
    assert m == metaphone_py(w)  # deterministic
    assert len(m) <= 6
    assert m == "" or all(c.isalnum() for c in m)


@given(word, word)
@settings(max_examples=200, deadline=None)
def test_name_align_bounds_symmetry(a, b):
    s = name_align_py(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(s - name_align_py(b, a)) < 1e-12


@given(text)
@settings(max_examples=100, deadline=None)
def test_lsh_and_surname_keys_deterministic(s):
    assert lsh_keys_py(s) == lsh_keys_py(s)
    assert surname_key_py(s) == surname_key_py(s)
    assert len(lsh_keys_py(s)) in (0, 16)


# --- scoring prefilter bound (round 3) --------------------------------------

_name_tokens = st.lists(
    st.one_of(
        st.text(alphabet="abcdef", min_size=1, max_size=7),
        st.sampled_from(["dr", "mr", "prof", "a", "o", "smith", "smyth"]),
    ),
    min_size=0,
    max_size=5,
)
_sorted_name = _name_tokens.map(lambda ts: " ".join(sorted(ts)))


@given(_sorted_name, _sorted_name)
@example("aecd", "aecaada")  # Winkler step one ulp under the kernel's 0.9
@settings(max_examples=2000, deadline=None)
def test_na_upper_bound_dominates_kernel(a, b):
    """Soundness of the scoring prefilter: the bound must NEVER fall below
    the kernel — a violation could prune a true match (silent recall loss).
    Small alphabet maximizes collisions/duplicates/near-typos, the regimes
    where the bound's exact-matching and exclusion arguments are subtle."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )

    assert na_upper_bound_py(a, b) >= name_align_py(a, b) - 1e-12


@given(text, text)
@settings(max_examples=500, deadline=None)
def test_na_upper_bound_arbitrary_text(a, b):
    """The bound holds for ANY input, not just sorted fixture-like names
    (unicode, whitespace runs, empties) — and stays in [0, 1]-ish range."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )

    ub = na_upper_bound_py(a, b)
    assert ub >= name_align_py(a, b) - 1e-12
    assert ub >= 0.0


# ---------------------------------------------------------------------------
# Corrupt-shard fuzz for the real media decoders (round-4 verdict item 8):
# at 100 TB a truncated or bit-flipped payload must fail with a TYPED,
# diagnosable ValueError (or decode to something plausible when the damage
# is in pixel/plane data) — never a numpy buffer-overrun, struct.error,
# IndexError, or a multi-GB allocation from a corrupt dims field.
# ---------------------------------------------------------------------------


@given(st.integers(0, 63), st.floats(0.0, 1.0, exclude_max=True))
@settings(max_examples=120, deadline=None)
def test_bmp_truncation_raises_typed(media_id, frac):
    from metadata_reconciliation_tool_spark.operators.multimodal import (
        bmp_bytes_py,
        decode_bmp_py,
    )

    p = bmp_bytes_py(media_id)
    cut = p[: int(len(p) * frac)]
    try:
        decode_bmp_py(cut)
        raise AssertionError("truncated BMP decoded without error")
    except ValueError as e:
        assert "BMP" in str(e)  # diagnosable, not numpy's buffer message


@given(st.integers(0, 63), st.integers(0, 10_000), st.integers(1, 255))
@settings(max_examples=200, deadline=None)
def test_bmp_bitflip_valueerror_or_success(media_id, pos, xor):
    from metadata_reconciliation_tool_spark.operators.multimodal import (
        bmp_bytes_py,
        decode_bmp_py,
    )

    p = bytearray(bmp_bytes_py(media_id))
    p[pos % len(p)] ^= xor
    try:
        out = decode_bmp_py(bytes(p))
        assert set(out) == {
            "width", "height", "n_bytes", "mean_b", "mean_g", "mean_r", "peak"
        }
    except ValueError:
        pass  # typed + diagnosable is the contract; anything else fails


@given(st.integers(0, 63), st.floats(0.0, 1.0, exclude_max=True))
@settings(max_examples=120, deadline=None)
def test_y4m_truncation_typed_or_fewer_frames(media_id, frac):
    from metadata_reconciliation_tool_spark.operators.multimodal import (
        decode_y4m_py,
        y4m_bytes_py,
        y4m_n_frames_py,
    )

    p = y4m_bytes_py(media_id)
    cut = p[: int(len(p) * frac)]
    try:
        frames = decode_y4m_py(cut)
        # a cut exactly at a frame boundary IS a valid shorter stream
        assert len(frames) < y4m_n_frames_py(media_id)
    except ValueError as e:
        assert "Y4M" in str(e) or "YUV4MPEG2" in str(e) or "W/H" in str(e)


@given(st.integers(0, 63), st.integers(0, 10_000), st.integers(1, 255))
@settings(max_examples=200, deadline=None)
def test_y4m_bitflip_valueerror_or_success(media_id, pos, xor):
    from metadata_reconciliation_tool_spark.operators.multimodal import (
        decode_y4m_py,
        y4m_bytes_py,
    )

    p = bytearray(y4m_bytes_py(media_id))
    p[pos % len(p)] ^= xor
    try:
        for fr in decode_y4m_py(bytes(p)):
            assert fr["width"] > 0 and fr["height"] > 0
    except ValueError:
        pass


def test_decoders_unchanged_on_valid_input():
    """The new validation must not change any valid decode (the DuckDB
    round-trip oracles pin the values; this pins the full synthetic id
    range cheaply)."""
    from metadata_reconciliation_tool_spark.operators.multimodal import (
        bmp_bytes_py,
        bmp_dims_py,
        decode_bmp_py,
        decode_y4m_py,
        y4m_bytes_py,
        y4m_dims_py,
        y4m_n_frames_py,
    )

    for mid in range(64):
        out = decode_bmp_py(bmp_bytes_py(mid))
        assert (out["width"], out["height"]) == bmp_dims_py(mid)
        frames = decode_y4m_py(y4m_bytes_py(mid))
        assert len(frames) == y4m_n_frames_py(mid)
        w, h = y4m_dims_py(mid)
        assert all((fr["width"], fr["height"]) == (w, h) for fr in frames)

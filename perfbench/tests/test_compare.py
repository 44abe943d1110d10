"""The compare verdict rule."""

from compare import verdict

BASE = {s: 10.0 + 0.05 * s for s in range(10)}  # 10.0 .. 10.45, IQR ~0.25


def test_improved_needs_nine_tenths_of_pairs_and_a_gap_past_the_spread():
    change = {s: v * 0.8 for s, v in BASE.items()}
    assert verdict(BASE, change, 0.1) == "improved"


def test_a_gain_inside_the_base_spread_is_not_improved():
    change = {s: v - 0.1 for s, v in BASE.items()}  # wins every pair, gap < IQR
    assert verdict(BASE, change, 0.1) == "within bound"


def test_losing_two_pairs_in_ten_is_not_improved():
    change = {s: v * 0.8 for s, v in BASE.items()}
    change[0] = change[1] = 20.0
    assert verdict(BASE, change, 0.25) != "improved"


def test_regressed_past_the_bound():
    change = {s: v * 1.2 for s, v in BASE.items()}
    assert verdict(BASE, change, 0.1) == "regressed"
    assert verdict(BASE, change, 0.25) == "within bound"


def test_spread_wider_than_the_bound_is_unresolved():
    noisy = {s: 10.0 + (5.0 if s % 2 else 0.0) for s in range(10)}
    assert verdict(BASE, noisy, 0.1) == "unresolved"


def test_every_change_run_better_than_every_base_run_resolves_a_wide_spread():
    wide = {s: 10.0 + s for s in range(10)}  # IQR ~50% of the median
    change = {s: 1.0 + 0.01 * s for s in range(10)}
    assert verdict(wide, change, 0.1) == "improved"
    change = {s: 9.0 + 0.1 * s for s in range(10)}  # all below min(base), gap < IQR
    assert verdict(wide, change, 0.1) == "within bound"


def test_a_gain_needs_ten_pairs():
    few = {s: BASE[s] for s in range(9)}
    assert verdict(few, {s: v * 0.5 for s, v in few.items()}, 0.1) == "within bound"


def test_zero_counts_compare_equal():
    zeros = {s: 0.0 for s in range(10)}
    assert verdict(zeros, dict(zeros), 0.1) == "within bound"

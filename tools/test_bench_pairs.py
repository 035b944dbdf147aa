#!/usr/bin/env python3
"""Self-test of bench_pairs.py's claim rule on synthetic numbers:
`python3 tools/test_bench_pairs.py`.

The rule: the change wins at least nine tenths of the pairs (a tie
counts for neither side), and its median beats the parent's by more
than the distance between the parent's quartiles.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
from bench_pairs import quartiles, resolution, spread, verdict, wins  # noqa: E402


def main() -> int:
    parent = [100.0, 102.0, 98.0, 101.0, 99.0, 103.0, 97.0, 100.0, 101.0, 99.0]

    # a clear gain: ten wins, gap 20 against a parent IQR of about 2.5
    faster = [p - 20.0 for p in parent]
    won, needed, gap, iqr, holds = verdict(parent, faster, lower_is_better=True)
    assert (won, needed) == (10, 9), (won, needed)
    q1, med, q3 = quartiles(parent)
    assert abs(gap - 20.0) < 1e-9 and abs(iqr - (q3 - q1)) < 1e-9, (gap, iqr)
    assert holds, "ten wins and a gap beyond the IQR must hold"

    # ties count for neither side: two ties leave eight wins of ten
    tied = list(faster)
    tied[0], tied[1] = parent[0], parent[1]
    assert wins(parent, tied, lower_is_better=True) == 8
    assert not verdict(parent, tied, lower_is_better=True)[4], \
        "eight wins must not hold"

    # nine wins of ten is enough, one loss allowed
    one_loss = list(faster)
    one_loss[3] = parent[3] + 1.0
    won, _, _, _, holds = verdict(parent, one_loss, lower_is_better=True)
    assert won == 9 and holds, (won, holds)

    # every pair won, but by less than the parent's own spread
    slightly = [p - 1.0 for p in parent]
    won, _, gap, iqr, holds = verdict(parent, slightly, lower_is_better=True)
    assert won == 10 and gap < iqr and not holds, (won, gap, iqr)

    # a gap exactly equal to the IQR does not hold (strictly larger)
    q1, med, q3 = quartiles(parent)
    exact = [p - (q3 - q1) for p in parent]
    assert not verdict(parent, exact, lower_is_better=True)[4]

    # a higher-is-better metric counts the other direction
    rates = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.02, 0.98, 1.0]
    assert verdict(rates, [r + 0.5 for r in rates], lower_is_better=False)[4]
    assert not verdict(rates, [r - 0.5 for r in rates], lower_is_better=False)[4]
    assert wins(rates, [r - 0.5 for r in rates], lower_is_better=False) == 0

    # with 20 pairs the bar is 18 wins
    assert verdict(parent * 2, faster * 2, lower_is_better=True)[1] == 18

    # spread is the IQR over the median: 30 / 100 for 80, 90, 100, 110, 120
    q1, med, q3 = quartiles([80.0, 90.0, 100.0, 110.0, 120.0])
    assert abs(spread([80.0, 90.0, 100.0, 110.0, 120.0]) - (q3 - q1) / med) < 1e-12
    assert spread([120.0, 80.0, 100.0, 90.0, 110.0]) > 0.25 > spread(parent)

    # a spread beyond the bound leaves a metric unresolved, unless every
    # run of the change reads better than every run of the parent
    wide = [80.0, 90.0, 100.0, 110.0, 120.0]
    assert resolution(parent, faster, 0.25, lower_is_better=True) == "resolved"
    assert resolution(wide, wide, 0.25, lower_is_better=True) == "unresolved"
    assert resolution(wide, [w - 50.0 for w in wide], 0.25,
                      lower_is_better=True) == "better in every run"
    assert resolution(wide, [w + 50.0 for w in wide], 0.25,
                      lower_is_better=False) == "better in every run"

    print("bench_pairs rule: all cases pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())

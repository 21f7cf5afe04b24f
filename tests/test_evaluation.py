"""Evaluation metrics (evaluation.py): exact AUC via the score-value
histogram collapse, calibration bins + ECE."""

import itertools

import pytest
from pyspark.sql import functions as F

from protosc_spark.evaluation import auc_exact, calibration_bins
from protosc_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_evaluation")


def _auc_bruteforce(pairs):
    """P(random positive outranks random negative), ties half."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    wins = sum(
        1.0 if p > n else 0.5 if p == n else 0.0
        for p, n in itertools.product(pos, neg)
    )
    return wins / (len(pos) * len(neg))


def test_auc_matches_bruteforce_with_ties(spark):
    pairs = [
        (3, 1), (3, 0), (3, 1), (2, 0), (2, 1), (5, 1), (1, 0),
        (1, 0), (4, 0), (4, 1), (4, 1), (2, 0), (5, 0),
    ]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = auc_exact(df, "s", "y").collect()[0]
    assert r.n_pos == 6 and r.n_neg == 7
    assert abs(r.auc - _auc_bruteforce(pairs)) < 1e-12


def test_auc_extremes_and_degenerate(spark):
    sep = spark.createDataFrame(
        [(10, 1), (11, 1), (1, 0), (2, 0)], "s long, y int"
    )
    assert auc_exact(sep, "s", "y").collect()[0].auc == 1.0
    rev = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 0), (11, 0)], "s long, y int"
    )
    assert auc_exact(rev, "s", "y").collect()[0].auc == 0.0
    tie = spark.createDataFrame(
        [(7, 1), (7, 0), (7, 1), (7, 0)], "s long, y int"
    )
    assert abs(auc_exact(tie, "s", "y").collect()[0].auc - 0.5) < 1e-12
    onecls = spark.createDataFrame([(1, 1), (2, 1)], "s long, y int")
    assert auc_exact(onecls, "s", "y").collect()[0].auc is None


def test_calibration_bins_and_ece(spark):
    """Hand fixture: bin 0 holds scores .05/.05 with labels 1,0
    (conf .05, rate .5); score 1.0 folds into bin 9 (conf 1, rate 1);
    ECE recomputed in python."""
    rows = [(0.05, 1), (0.05, 0), (1.0, 1), (0.95, 1), (0.52, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.bin: r for r in
           calibration_bins(df, "s", "y", n_bins=10).collect()}
    assert set(out) == {0, 5, 9}
    assert out[0].n == 2 and abs(out[0].conf - 0.05) < 1e-12
    assert abs(out[0].rate - 0.5) < 1e-12
    assert out[9].n == 2  # 1.0 folded down + 0.95
    ece = (2 / 5) * abs(0.5 - 0.05) + (1 / 5) * abs(0.0 - 0.52) \
        + (2 / 5) * abs(1.0 - 0.975)
    assert abs(out[0].ece - ece) < 1e-12


def test_evaluation_plan_no_python(spark):
    df = spark.createDataFrame([(1, 1)], "s long, y int")
    for out in (
        auc_exact(df, "s", "y"),
        calibration_bins(df, "s", "y"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# ks_two_sample
# ---------------------------------------------------------------------------

def _ks_bruteforce(vals):
    """sup_x |F1(x) - F0(x)| over the pooled support, exact via
    Fraction; returns (ks, argmin value attaining it)."""
    from fractions import Fraction

    a = sorted(v for v, g in vals if g == 1)
    b = sorted(v for v, g in vals if g == 0)
    best, at = Fraction(0), None
    for x in sorted(set(a) | set(b)):
        fa = Fraction(sum(1 for v in a if v <= x), len(a))
        fb = Fraction(sum(1 for v in b if v <= x), len(b))
        d = abs(fa - fb)
        if d > best or (d == best and at is None):
            best, at = d, x
    return float(best), at


def test_ks_matches_bruteforce(spark):
    from protosc_spark.evaluation import ks_two_sample

    vals = [
        (1, 1), (2, 1), (2, 1), (3, 1), (9, 1), (2, 0), (3, 0),
        (3, 0), (4, 0), (5, 0), (5, 0), (9, 0), (1, 1), (7, 0),
    ]
    df = spark.createDataFrame(vals, "v long, g int")
    r = ks_two_sample(df, "v", "g").collect()[0]
    want_ks, want_at = _ks_bruteforce(vals)
    assert r.n_1 == 6 and r.n_0 == 8
    assert abs(r.ks - want_ks) < 1e-12
    assert r.ks_at == want_at


def test_ks_identical_and_disjoint(spark):
    from protosc_spark.evaluation import ks_two_sample

    same = spark.createDataFrame(
        [(v, g) for v in (1, 2, 3) for g in (0, 1)], "v long, g int"
    )
    assert ks_two_sample(same, "v", "g").collect()[0].ks == 0.0
    disj = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 0), (11, 0)], "v long, g int"
    )
    r = ks_two_sample(disj, "v", "g").collect()[0]
    assert r.ks == 1.0 and r.ks_at == 2  # sup first reached at max of group 1


def test_ks_null_and_empty_group(spark):
    from protosc_spark.evaluation import ks_two_sample

    df = spark.createDataFrame(
        [(1, 1), (None, 1), (2, None), (3, 1)], "v long, g int"
    )
    r = ks_two_sample(df, "v", "g").collect()[0]
    assert r.n_1 == 2 and r.n_0 == 0
    assert r.ks is None and r.ks_at is None


def test_ks_at_is_smallest_argmax(spark):
    from protosc_spark.evaluation import ks_two_sample

    # |F1-F0| hits the same sup at v=1 and v=3 (1/2 each); smallest wins
    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 0)], "v long, g int"
    )
    r = ks_two_sample(df, "v", "g").collect()[0]
    want_ks, want_at = _ks_bruteforce([(1, 1), (2, 0), (3, 1), (4, 0)])
    assert abs(r.ks - want_ks) < 1e-12 and r.ks_at == want_at == 1


# ---------------------------------------------------------------------------
# cohens_kappa
# ---------------------------------------------------------------------------

def _kappa_bruteforce(pairs):
    from fractions import Fraction

    n = len(pairs)
    cats = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    po = Fraction(sum(1 for a, b in pairs if a == b), n)
    pe = sum(
        Fraction(sum(1 for a, _ in pairs if a == k), n)
        * Fraction(sum(1 for _, b in pairs if b == k), n)
        for k in cats
    )
    return float((po - pe) / (1 - pe))


def test_kappa_matches_bruteforce(spark):
    from protosc_spark.evaluation import cohens_kappa

    pairs = [
        ("en", "en"), ("en", "de"), ("de", "de"), ("de", "de"),
        ("es", "en"), ("es", "es"), ("en", "en"), ("de", "en"),
        ("en", "en"), ("es", "es"), ("de", "de"), ("en", "es"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r.n == 12
    assert abs(r.kappa - _kappa_bruteforce(pairs)) < 1e-12
    assert abs(r.po - 8 / 12) < 1e-12


def test_kappa_perfect_and_orthogonal(spark):
    from protosc_spark.evaluation import cohens_kappa

    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("z", "z"), ("x", "x")],
        "a string, b string",
    )
    assert cohens_kappa(perfect, "a", "b").collect()[0].kappa == 1.0
    # marginal-independent raters: kappa exactly 0
    indep = spark.createDataFrame(
        [(a, b) for a in ("x", "y") for b in ("x", "y")],
        "a string, b string",
    )
    assert abs(cohens_kappa(indep, "a", "b").collect()[0].kappa) < 1e-12


def test_kappa_degenerate_constant(spark):
    from protosc_spark.evaluation import cohens_kappa

    const = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    r = cohens_kappa(const, "a", "b").collect()[0]
    assert r.kappa is None and r.po == 1.0 and r.pe == 1.0


def test_kappa_drops_nulls(spark):
    from protosc_spark.evaluation import cohens_kappa

    df = spark.createDataFrame(
        [("x", "x"), (None, "x"), ("y", None), ("y", "x")],
        "a string, b string",
    )
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r.n == 2


# ---------------------------------------------------------------------------
# mutual_information
# ---------------------------------------------------------------------------

def _mi_bruteforce(pairs):
    import math
    from collections import Counter

    n = len(pairs)
    cxy, cx, cy = Counter(pairs), Counter(), Counter()
    for a, b in pairs:
        cx[a] += 1
        cy[b] += 1
    mi = sum(
        (v / n) * math.log(v * n / (cx[a] * cy[b]))
        for (a, b), v in cxy.items()
    )
    hx = -sum((v / n) * math.log(v / n) for v in cx.values())
    hy = -sum((v / n) * math.log(v / n) for v in cy.values())
    return mi, hx, hy


def test_mi_matches_bruteforce(spark):
    from protosc_spark.evaluation import mutual_information

    pairs = [
        ("en", "web"), ("en", "web"), ("en", "book"), ("de", "web"),
        ("de", "book"), ("de", "book"), ("es", "web"), ("en", "code"),
        ("de", "code"), ("es", "code"), ("es", "book"), ("en", "web"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    mi, hx, hy = _mi_bruteforce(pairs)
    assert r.n == 12
    assert abs(r.mi - mi) < 1e-9
    assert abs(r.h_a - hx) < 1e-9 and abs(r.h_b - hy) < 1e-9
    assert abs(r.nmi - mi / (hx * hy) ** 0.5) < 1e-9


def test_mi_independent_and_identical(spark):
    from protosc_spark.evaluation import mutual_information

    # product distribution: MI exactly 0 (up to quantization 1e-15)
    indep = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "pq" for _ in range(3)],
        "a string, b string",
    )
    r = mutual_information(indep, "a", "b").collect()[0]
    assert abs(r.mi) < 1e-12
    # identical columns: mi == h_a == h_b, nmi == 1
    same = spark.createDataFrame(
        [(c, c) for c in "xxyyz"], "a string, b string"
    )
    r = mutual_information(same, "a", "b").collect()[0]
    assert abs(r.mi - r.h_a) < 1e-12 and abs(r.nmi - 1.0) < 1e-12


def test_mi_degenerate_constant_nmi_null(spark):
    from protosc_spark.evaluation import mutual_information

    const = spark.createDataFrame(
        [("x", "p"), ("x", "q")], "a string, b string"
    )
    r = mutual_information(const, "a", "b").collect()[0]
    assert r.h_a == 0.0 and r.nmi is None and abs(r.mi) < 1e-12


# ---------------------------------------------------------------------------
# chi2_independence
# ---------------------------------------------------------------------------

def _chi2_bruteforce(pairs):
    from collections import Counter

    n = len(pairs)
    cxy, cx, cy = Counter(pairs), Counter(), Counter()
    for a, b in pairs:
        cx[a] += 1
        cy[b] += 1
    chi2 = sum(
        (cxy.get((a, b), 0) - cx[a] * cy[b] / n) ** 2
        / (cx[a] * cy[b] / n)
        for a in cx
        for b in cy
    )
    return chi2, (len(cx) - 1) * (len(cy) - 1), min(len(cx), len(cy))


def test_chi2_matches_bruteforce_with_empty_cells(spark):
    from protosc_spark.evaluation import chi2_independence

    # ("es", "code") never observed -> its expected count must still
    # contribute (the full-grid requirement)
    pairs = [
        ("en", "web"), ("en", "web"), ("en", "book"), ("de", "web"),
        ("de", "book"), ("de", "code"), ("es", "web"), ("es", "book"),
        ("en", "code"), ("de", "web"), ("es", "book"), ("en", "book"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    r = chi2_independence(df, "a", "b").collect()[0]
    chi2, dof, kmin = _chi2_bruteforce(pairs)
    assert r.n == 12 and r.dof == dof
    assert abs(r.chi2 - chi2) < 1e-6
    assert abs(r.cramers_v - (chi2 / (12 * (kmin - 1))) ** 0.5) < 1e-6


def test_chi2_independent_is_zero_and_degenerate_null(spark):
    from protosc_spark.evaluation import chi2_independence

    indep = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "pq" for _ in range(4)],
        "a string, b string",
    )
    r = chi2_independence(indep, "a", "b").collect()[0]
    assert abs(r.chi2) < 1e-8
    const = spark.createDataFrame(
        [("x", "p"), ("x", "q")], "a string, b string"
    )
    r = chi2_independence(const, "a", "b").collect()[0]
    assert r.dof == 0 and r.chi2 is None and r.cramers_v is None


def test_chi2_pvalue_tail_composes(spark):
    """The driver-side tail: chi2_sf on the collected statistic —
    perfect association at n >> dof must be significant, independence
    must not."""
    from protosc_spark.evaluation import chi2_independence
    from protosc_spark.numerics import chi2_sf

    same = spark.createDataFrame(
        [(c, c) for c in "xy" * 20], "a string, b string"
    )
    r = same.transform(
        lambda d: chi2_independence(d, "a", "b")
    ).collect()[0]
    assert chi2_sf(r.chi2, int(r.dof)) < 1e-6


# ---------------------------------------------------------------------------
# spearman_corr
# ---------------------------------------------------------------------------

def _midranks(vals):
    import numpy as np

    vals = np.asarray(vals, dtype=float)
    order = np.argsort(vals, kind="mergesort")
    ranks = np.empty(len(vals))
    i = 0
    s = vals[order]
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    return ranks


def _spearman_bruteforce(pairs):
    import numpy as np

    a = _midranks([p[0] for p in pairs])
    b = _midranks([p[1] for p in pairs])
    n = len(pairs)
    num = n * (a * b).sum() - a.sum() * b.sum()
    den = ((n * (a * a).sum() - a.sum() ** 2)
           * (n * (b * b).sum() - b.sum() ** 2)) ** 0.5
    return num / den


def test_spearman_matches_bruteforce_heavy_ties(spark):
    from protosc_spark.evaluation import spearman_corr

    # deterministic tie-heavy data: both columns take few values
    pairs = [((i * 7) % 5, ((i * i + 3) % 4)) for i in range(40)]
    pairs += [(2, 1)] * 6 + [(4, 3)] * 5
    df = spark.createDataFrame(pairs, "a int, b int")
    r = spearman_corr(df, "a", "b").collect()[0]
    assert r.n == 51
    assert abs(r.rho - _spearman_bruteforce(pairs)) < 1e-12


def test_spearman_monotone_and_degenerate(spark):
    from protosc_spark.evaluation import spearman_corr

    mono = spark.createDataFrame(
        [(i, i * i + 1) for i in range(30)], "a int, b int"
    )
    assert spearman_corr(mono, "a", "b").collect()[0].rho == 1.0
    rev = spark.createDataFrame(
        [(i, -3 * i) for i in range(30)], "a int, b int"
    )
    assert spearman_corr(rev, "a", "b").collect()[0].rho == -1.0
    const = spark.createDataFrame(
        [(i, 7) for i in range(10)], "a int, b int"
    )
    r = spearman_corr(const, "a", "b").collect()[0]
    assert r.rho is None and r.n == 10


def test_spearman_null_rows_dropped(spark):
    from protosc_spark.evaluation import spearman_corr

    pairs = [(1, 2), (2, 4), (3, 5), (None, 9), (4, None)]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = spearman_corr(df, "a", "b").collect()[0]
    assert r.n == 3 and r.rho == 1.0


# ---------------------------------------------------------------------------
# js_divergence
# ---------------------------------------------------------------------------

def _jsd_bruteforce(rows, g):
    import math
    from collections import Counter

    mine = Counter(v for gg, v in rows if gg == g)
    rest = Counter(v for gg, v in rows if gg != g)
    ng, nr = sum(mine.values()), sum(rest.values())
    out = 0.0
    for v in set(mine) | set(rest):
        p, q = mine[v] / ng, rest[v] / nr
        m = (p + q) / 2
        out += 0.5 * (p * math.log(p / m) if p else 0.0)
        out += 0.5 * (q * math.log(q / m) if q else 0.0)
    return out


def test_jsd_matches_bruteforce_with_absent_value(spark):
    from protosc_spark.evaluation import js_divergence

    # "z" never occurs in group g1 -> its Q-side mass must still count
    rows = (
        [("g1", "x")] * 8 + [("g1", "y")] * 2
        + [("g2", "x")] * 3 + [("g2", "y")] * 4 + [("g2", "z")] * 5
    )
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        r.g: r for r in js_divergence(df, "g", "v").collect()
    }
    for g in ("g1", "g2"):
        assert abs(got[g].jsd - _jsd_bruteforce(rows, g)) < 1e-9
    assert got["g1"].n_group == 10 and got["g1"].n_rest == 12


def test_jsd_identical_zero_disjoint_ln2_single_null(spark):
    import math

    from protosc_spark.evaluation import js_divergence

    same = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in "xxy"], "g string, v string"
    )
    for r in js_divergence(same, "g", "v").collect():
        assert abs(r.jsd) < 1e-12
    disjoint = spark.createDataFrame(
        [("a", "p")] * 3 + [("b", "q")] * 5, "g string, v string"
    )
    for r in js_divergence(disjoint, "g", "v").collect():
        assert abs(r.jsd - math.log(2.0)) < 1e-9
        assert abs(r.jsd_bits - 1.0) < 1e-9
    single = spark.createDataFrame(
        [("only", "x"), ("only", "y")], "g string, v string"
    )
    r = js_divergence(single, "g", "v").collect()[0]
    assert r.n_rest == 0 and r.jsd is None and r.jsd_bits is None


# ---------------------------------------------------------------------------
# kendall_tau
# ---------------------------------------------------------------------------

def _kendall_bruteforce(pairs):
    n = len(pairs)
    c = d = n1 = n2 = 0
    for i in range(n):
        for j in range(i + 1, n):
            da = pairs[i][0] - pairs[j][0]
            db = pairs[i][1] - pairs[j][1]
            if da == 0:
                n1 += 1
            if db == 0:
                n2 += 1
            if da * db > 0:
                c += 1
            elif da * db < 0:
                d += 1
    n0 = n * (n - 1) // 2
    return c, d, (c - d) / ((n0 - n1) * (n0 - n2)) ** 0.5


def test_kendall_matches_bruteforce_heavy_ties(spark):
    from protosc_spark.evaluation import kendall_tau

    pairs = [((i * 7) % 5, (i * i + 3) % 4) for i in range(40)]
    pairs += [(2, 1)] * 6 + [(4, 3)] * 5
    df = spark.createDataFrame(pairs, "a int, b int")
    r = kendall_tau(df, "a", "b").collect()[0]
    c, d, tau = _kendall_bruteforce(pairs)
    assert r.n == 51
    assert r.n_concordant == c and r.n_discordant == d
    assert abs(r.tau_b - tau) < 1e-12


def test_kendall_monotone_and_degenerate(spark):
    from protosc_spark.evaluation import kendall_tau

    mono = spark.createDataFrame(
        [(i, 2 * i + 5) for i in range(25)], "a int, b int"
    )
    assert kendall_tau(mono, "a", "b").collect()[0].tau_b == 1.0
    rev = spark.createDataFrame(
        [(i, -i) for i in range(25)], "a int, b int"
    )
    assert kendall_tau(rev, "a", "b").collect()[0].tau_b == -1.0
    const = spark.createDataFrame(
        [(i, 3) for i in range(10)], "a int, b int"
    )
    r = kendall_tau(const, "a", "b").collect()[0]
    assert r.tau_b is None and r.n_concordant == 0


# --- lift / cumulative gains ---


def test_lift_table_perfect_separation_and_tie_rule(spark):
    from protosc_spark.evaluation import lift_table

    # 100 unique scores desc; positives are exactly the top 20
    rows = [(100 - i, 1 if i < 20 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "score long, y int")
    got = {r.bin: r for r in lift_table(df, "score", "y").collect()}
    assert set(got) == set(range(1, 11))
    assert all(got[b].n == 10 for b in got)
    assert got[1].n_pos == 10 and got[2].n_pos == 10
    assert got[3].n_pos == 0
    # base rate 0.2: top decile lift = 5, full-table lift = 1
    assert got[1].lift == 5.0 and got[10].cum_lift == 1.0
    assert got[2].cum_gain == 1.0  # top 20% captures all positives
    # heavy tie: one value straddling a boundary lands in ONE bin
    tie = [(5, 1)] * 30 + [(3, 0)] * 70
    df2 = spark.createDataFrame(tie, "score long, y int")
    g2 = {r.bin: r for r in lift_table(df2, "score", "y").collect()}
    # ceil(30*10/100)=3: the whole score-5 group sits in bin 3
    assert set(g2) == {3, 10} and g2[3].n == 30 and g2[10].n == 70
    assert g2[3].n_pos == 30 and g2[10].n_pos == 0


def test_lift_table_no_positives(spark):
    from protosc_spark.evaluation import lift_table

    df = spark.createDataFrame(
        [(i, 0) for i in range(50)], "score long, y int"
    )
    rows = lift_table(df, "score", "y").collect()
    assert all(r.lift is None and r.cum_gain is None for r in rows)
    assert sum(r.n for r in rows) == 50


# --- classification report ---


def test_classification_report_hand_case(spark):
    from protosc_spark.evaluation import classification_report

    # true: a a a b b c ; pred: a b a b c c, plus a never-true pred 'd'
    rows = [
        ("a", "a"), ("a", "b"), ("a", "a"),
        ("b", "b"), ("b", "c"),
        ("c", "c"),
        ("a", "d"),
        ("c", None),  # dropped
    ]
    df = spark.createDataFrame(rows, "t string, p string")
    got = {
        r["class"]: r
        for r in classification_report(df, "t", "p").collect()
    }
    assert set(got) == {"a", "b", "c", "d"}
    a = got["a"]
    assert (a.n_true, a.n_pred, a.tp) == (4, 2, 2)
    assert a.precision == 1.0 and a.recall == 0.5
    assert abs(a.f1 - (2 * 2 / (4 + 2))) < 1e-12
    d = got["d"]
    assert (d.n_true, d.n_pred, d.tp) == (0, 1, 0)
    assert d.precision == 0.0 and d.recall is None and d.f1 == 0.0
    # accuracy over the 7 kept rows: a,a,b,c correct = 4/7
    assert abs(a.accuracy - 4 / 7) < 1e-12
    assert all(abs(r.accuracy - 4 / 7) < 1e-12 for r in got.values())


# --- Wasserstein-1 drift ---


def test_wasserstein_matches_scipy_style_bruteforce(spark):
    from protosc_spark.evaluation import wasserstein_by_group

    a = [1, 1, 2, 5, 9, 9, 9]  # group 1
    b = [1, 3, 3, 4, 9]  # group 0
    rows = [(v, 1) for v in a] + [(v, 0) for v in b]
    df = spark.createDataFrame(rows, "v long, g int")
    r = wasserstein_by_group(df, "v", "g").collect()[0]

    # brute force: integrate |F1 - F0| over the merged value grid
    def cdf(xs, v):
        return sum(1 for x in xs if x <= v) / len(xs)

    grid = sorted(set(a + b))
    want = sum(
        abs(cdf(a, grid[i]) - cdf(b, grid[i]))
        * (grid[i + 1] - grid[i])
        for i in range(len(grid) - 1)
    )
    assert (r.n_1, r.n_0) == (7, 5)
    assert abs(r.w1 - want) < 1e-12
    # identical distributions: zero distance
    same = spark.createDataFrame(
        [(v, g) for v in a for g in (0, 1)], "v long, g int"
    )
    assert wasserstein_by_group(same, "v", "g").collect()[0].w1 == 0.0
    # pure location shift by +3: W1 == 3 exactly
    shift = spark.createDataFrame(
        [(v, 0) for v in a] + [(v + 3, 1) for v in a], "v long, g int"
    )
    assert (
        abs(wasserstein_by_group(shift, "v", "g").collect()[0].w1 - 3.0)
        < 1e-12
    )


# --- Cochran-Armitage trend ---


def _ca_bruteforce(pairs):
    import math
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])
    for w, y in pairs:
        g[w][0] += 1
        g[w][1] += y
    N = sum(v[0] for v in g.values())
    Y = sum(v[1] for v in g.values())
    swy = sum(w * v[1] for w, v in g.items())
    swn = sum(w * v[0] for w, v in g.items())
    sww = sum(w * w * v[0] for w, v in g.items())
    num = N * swy - Y * swn
    b = Y * (N - Y) * (N * sww - swn * swn)
    return num * math.sqrt(N) / math.sqrt(b)


def test_cochran_armitage_planted_trend_and_null(spark):
    from protosc_spark.evaluation import cochran_armitage

    # rate rises with the score: p(w) = w/10 over w in 0..9
    pairs = []
    for w in range(10):
        for i in range(40):
            pairs.append((w, 1 if (i * 9257 + w * 31) % 10 < w else 0))
    df = spark.createDataFrame(pairs, "w long, y int")
    r = cochran_armitage(df, "w", "y").collect()[0]
    want = _ca_bruteforce(pairs)
    assert (r.n, r.k_bins) == (400, 10)
    assert abs(r.z - want) < 1e-9
    assert r.z > 5  # the planted trend is unmissable
    # flat rate: |z| small; scrambled scores kill the trend
    flat = [(w, (i * 7) % 2) for w in range(10) for i in range(40)]
    r2 = cochran_armitage(
        spark.createDataFrame(flat, "w long, y int"), "w", "y"
    ).collect()[0]
    assert abs(r2.z - _ca_bruteforce(flat)) < 1e-9
    assert abs(r2.z) < 2
    # constant label -> NULL
    const = [(w, 1) for w in range(5) for _ in range(3)]
    r3 = cochran_armitage(
        spark.createDataFrame(const, "w long, y int"), "w", "y"
    ).collect()[0]
    assert r3.z is None


# ---------------------------------------------------------------------------
# mannwhitney_u
# ---------------------------------------------------------------------------

def _mwu_bruteforce(vals):
    """(u1, z, rank_biserial) by direct pair counting + the standard
    tie-corrected normal approximation."""
    import math
    from collections import Counter

    a = [v for v, g in vals if g == 1]
    b = [v for v, g in vals if g == 0]
    n1, n0 = len(a), len(b)
    u1 = sum(
        1.0 if x > y else 0.5 if x == y else 0.0
        for x in a
        for y in b
    )
    N = n1 + n0
    ties = Counter(v for v, _ in vals)
    tie_term = sum(t**3 - t for t in ties.values())
    var = n1 * n0 * (N**3 - N - tie_term) / (12.0 * N * (N - 1))
    z = (u1 - n1 * n0 / 2.0) / math.sqrt(var) if var > 0 else None
    rb = 2.0 * u1 / (n1 * n0) - 1.0
    return u1, z, rb


def test_mwu_matches_bruteforce_with_ties(spark):
    from protosc_spark.evaluation import mannwhitney_u

    vals = [
        (5, 1), (5, 0), (3, 1), (3, 1), (8, 0), (8, 0), (8, 1),
        (1, 0), (2, 1), (9, 1), (9, 0), (4, 0), (4, 0), (7, 1),
    ]
    df = spark.createDataFrame(vals, "v long, g int")
    r = mannwhitney_u(df, "v", "g").collect()[0]
    u1, z, rb = _mwu_bruteforce(vals)
    assert r.n_1 == 7 and r.n_0 == 7
    assert abs(r.u1 - u1) < 1e-12
    assert abs(r.z - z) < 1e-9
    assert abs(r.rank_biserial - rb) < 1e-12


def test_mwu_separated_and_sign(spark):
    from protosc_spark.evaluation import mannwhitney_u

    hi = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (1, 0), (2, 0), (3, 0)],
        "v long, g int",
    )
    r = mannwhitney_u(hi, "v", "g").collect()[0]
    assert r.u1 == 9.0 and r.rank_biserial == 1.0 and r.z > 0
    lo = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 0), (11, 0)], "v long, g int"
    )
    r = mannwhitney_u(lo, "v", "g").collect()[0]
    assert r.u1 == 0.0 and r.rank_biserial == -1.0 and r.z < 0


def test_mwu_degenerate(spark):
    from protosc_spark.evaluation import mannwhitney_u

    onegrp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "v long, g int"
    )
    r = mannwhitney_u(onegrp, "v", "g").collect()[0]
    assert r.n_0 == 0 and r.z is None and r.rank_biserial is None
    alltied = spark.createDataFrame(
        [(7, 1), (7, 1), (7, 0), (7, 0)], "v long, g int"
    )
    r = mannwhitney_u(alltied, "v", "g").collect()[0]
    # every pooled row one tie block: variance 0 -> z NULL, U = half
    assert r.z is None and r.u1 == 2.0 and r.rank_biserial == 0.0
    withnull = spark.createDataFrame(
        [(1, 1), (None, 1), (2, 0), (3, None)], "v long, g int"
    )
    r = mannwhitney_u(withnull, "v", "g").collect()[0]
    assert r.n_1 == 1 and r.n_0 == 1


# ---------------------------------------------------------------------------
# cvm_two_sample
# ---------------------------------------------------------------------------

def _cvm_bruteforce(vals):
    from fractions import Fraction

    a = [v for v, g in vals if g == 1]
    b = [v for v, g in vals if g == 0]
    n1, n0 = len(a), len(b)
    N = n1 + n0
    s = Fraction(0)
    for x, _ in vals:
        f1 = Fraction(sum(1 for v in a if v <= x), n1)
        f0 = Fraction(sum(1 for v in b if v <= x), n0)
        s += (f1 - f0) ** 2
    return float(Fraction(n1 * n0, N * N) * s)


def test_cvm_matches_bruteforce(spark):
    from protosc_spark.evaluation import cvm_two_sample

    vals = [
        (5, 1), (5, 0), (3, 1), (8, 0), (8, 0), (1, 0), (2, 1),
        (9, 1), (9, 0), (4, 0), (7, 1), (7, 1),
    ]
    df = spark.createDataFrame(vals, "v long, g int")
    r = cvm_two_sample(df, "v", "g").collect()[0]
    assert r.n_1 == 6 and r.n_0 == 6
    assert abs(r.cvm - _cvm_bruteforce(vals)) < 1e-12


def test_cvm_identical_zero_and_degenerate(spark):
    from protosc_spark.evaluation import cvm_two_sample

    same = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (1, 0), (2, 0), (3, 0)],
        "v long, g int",
    )
    assert cvm_two_sample(same, "v", "g").collect()[0].cvm == 0.0
    onegrp = spark.createDataFrame(
        [(1, 0), (2, 0)], "v long, g int"
    )
    r = cvm_two_sample(onegrp, "v", "g").collect()[0]
    assert r.n_1 == 0 and r.cvm is None


_VALUE_CDF_FAMILY = (
    "auc_exact", "ks_two_sample", "wasserstein_by_group",
    "mannwhitney_u", "cvm_two_sample", "kuiper_two_sample",
    "youden_threshold", "average_precision", "energy_distance",
    "ad_two_sample",
)


@pytest.mark.parametrize(
    "fn", _VALUE_CDF_FAMILY + ("distribution_distances",)
)
def test_value_hist_family_plan(spark, fn):
    """Plans only (no job runs): the family is pure JVM, and every
    ordered statistic takes its totals from the CDF window, so its
    plan joins nothing back."""
    from protosc_spark import evaluation

    df = spark.createDataFrame([(1, 1), (2, 0)], "v long, g int")
    out = getattr(evaluation, fn)(df, "v", "g")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    if fn in _VALUE_CDF_FAMILY:
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# bh_fdr
# ---------------------------------------------------------------------------

def _bh_bruteforce(ps, alpha):
    m = len(ps)
    order = sorted(range(m), key=lambda i: ps[i])
    qs = [None] * m
    run = 1.0
    for pos in range(m - 1, -1, -1):
        i = order[pos]
        run = min(run, ps[i] * m / (pos + 1))
        qs[i] = min(run, 1.0)
    return qs, [q <= alpha for q in qs]


def test_bh_fdr_matches_bruteforce(spark):
    from protosc_spark.evaluation import bh_fdr

    ps = [0.01, 0.04, 0.03, 0.005, 0.20, 0.001, 0.97, 0.04]
    df = spark.createDataFrame(
        [(f"h{i}", p) for i, p in enumerate(ps)], "h string, p double"
    )
    got = {r.h: r for r in bh_fdr(df, "p", "h", alpha=0.05).collect()}
    qs, rej = _bh_bruteforce(ps, 0.05)
    for i, p in enumerate(ps):
        r = got[f"h{i}"]
        assert r.m == len(ps)
        assert abs(r.q - qs[i]) < 1e-12
        assert r.reject == rej[i]
    # tied p-values share one q
    assert got["h1"].q == got["h7"].q
    # q is monotone along the p order
    rows = sorted(got.values(), key=lambda r: r.rank)
    for a, b in zip(rows, rows[1:]):
        assert a.q <= b.q + 1e-15


def test_bh_fdr_null_p_and_edges(spark):
    from protosc_spark.evaluation import bh_fdr

    df = spark.createDataFrame(
        [("a", 0.04), ("b", None), ("c", 0.5)], "h string, p double"
    )
    got = {r.h: r for r in bh_fdr(df, "p", "h").collect()}
    assert len(got) == 2 and got["a"].m == 2  # NULL p never counts in m
    # single hypothesis degrades to the raw-p test
    one = spark.createDataFrame([("a", 0.03)], "h string, p double")
    r = bh_fdr(one, "p", "h").collect()[0]
    assert r.q == 0.03 and bool(r.reject)
    # q clipped at 1
    hi = spark.createDataFrame(
        [("a", 0.99), ("b", 0.995)], "h string, p double"
    )
    for r in bh_fdr(hi, "p", "h").collect():
        assert r.q <= 1.0


def test_bh_fdr_plan_no_python(spark):
    from protosc_spark.evaluation import bh_fdr

    df = spark.createDataFrame([("a", 0.5)], "h string, p double")
    plan = (
        bh_fdr(df, "p", "h")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# ndcg_at_k
# ---------------------------------------------------------------------------

def _ndcg_ref(rows, k, unit=10**9):
    """rows: [(id, score, rel)]; deterministic (score desc, id)."""
    import math

    ln2 = 0.6931471805599453
    ranked = sorted(rows, key=lambda r: (-r[1], r[0]))[:k]
    qdcg = sum(
        math.floor(rel * ln2 / math.log(i + 2.0) * unit)
        for i, (_, _, rel) in enumerate(ranked)
    )
    npos = sum(rel for _, _, rel in rows)
    qidcg = sum(
        math.floor(ln2 / math.log(i + 1.0) * unit)
        for i in range(1, min(k, npos) + 1)
    )
    dcg = qdcg / unit
    idcg = qidcg / unit if npos else None
    return npos, dcg, idcg, (dcg / idcg if npos else None)


def test_ndcg_matches_reference_with_ties(spark):
    from protosc_spark.evaluation import ndcg_at_k

    rows = [
        (i, (i * 7) % 5, 1 if (i * 13) % 3 == 0 else 0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, s long, y int")
    r = ndcg_at_k(df, "s", "y", "id", k=10).collect()[0]
    npos, dcg, idcg, ndcg = _ndcg_ref(rows, 10)
    assert r.k == 10 and r.n_pos == npos
    assert abs(r.dcg - dcg) < 1e-12
    assert abs(r.idcg - idcg) < 1e-12
    assert abs(r.ndcg - ndcg) < 1e-12


def test_ndcg_perfect_and_inverted_and_empty(spark):
    from protosc_spark.evaluation import ndcg_at_k

    # perfect ranking: all positives score highest -> ndcg == 1
    perfect = spark.createDataFrame(
        [(i, 100 - i, 1 if i < 5 else 0) for i in range(20)],
        "id long, s long, y int",
    )
    r = ndcg_at_k(perfect, "s", "y", "id", k=10).collect()[0]
    assert abs(r.ndcg - 1.0) < 1e-9
    # inverted: positives at the bottom, below the k cut -> dcg 0
    inv = spark.createDataFrame(
        [(i, 100 - i, 1 if i >= 15 else 0) for i in range(20)],
        "id long, s long, y int",
    )
    r = ndcg_at_k(inv, "s", "y", "id", k=10).collect()[0]
    assert r.dcg == 0.0 and r.ndcg == 0.0
    # no positives anywhere -> NULL ndcg
    none = spark.createDataFrame(
        [(1, 5, 0), (2, 3, 0)], "id long, s long, y int"
    )
    r = ndcg_at_k(none, "s", "y", "id", k=10).collect()[0]
    assert r.n_pos == 0 and r.ndcg is None and r.idcg is None


def test_ndcg_plan_uses_take_ordered(spark):
    from protosc_spark.evaluation import ndcg_at_k

    df = spark.createDataFrame(
        [(1, 5, 1), (2, 3, 0)], "id long, s long, y int"
    )
    out = ndcg_at_k(df, "s", "y", "id", k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the top-k must be Spark's per-partition TakeOrderedAndProject,
    # never a global Sort
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# gini_concentration
# ---------------------------------------------------------------------------

def test_gini_hand_values(spark):
    from protosc_spark.evaluation import gini_concentration

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 4),
         ("b", 5), ("b", 5), ("b", 5),
         ("c", 0), ("c", 0), ("c", 0), ("c", 10)],
        "g string, x long",
    )
    got = {
        r.g: r
        for r in gini_concentration(df, "x", "g").collect()
    }
    # 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
    assert abs(got["a"].gini - 0.25) < 1e-12
    assert abs(got["a"].top_share - 0.4) < 1e-12  # k=1, top=4
    # equal values -> perfectly equal
    assert got["b"].gini == 0.0
    # one row holds everything -> (n-1)/n
    assert abs(got["c"].gini - 0.75) < 1e-12
    assert got["c"].top_share == 1.0


def test_gini_matches_numpy_reference(spark):
    import numpy as np
    from protosc_spark.evaluation import gini_concentration

    rng = np.random.default_rng(7)
    xs = rng.integers(0, 500, size=400).tolist()
    # heavy ties: quantize a third of them
    xs = [x - x % 50 if i % 3 == 0 else x for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        [("g", int(x)) for x in xs], "g string, x long"
    )
    r = gini_concentration(df, "x", "g", top_frac=0.25).collect()[0]
    v = np.sort(np.array(xs, dtype=np.float64))
    n, s = len(v), v.sum()
    ref = 2.0 * np.sum(np.arange(1, n + 1) * v) / (n * s) \
        - (n + 1) / n
    assert abs(r.gini - ref) < 1e-12
    k = -(-n * 25 // 100)  # ceil(n/4)
    assert abs(r.top_share - v[n - k:].sum() / s) < 1e-12
    assert r.n == n and r.total == int(s)


def test_gini_null_and_zero_guards(spark):
    from protosc_spark.evaluation import gini_concentration

    df = spark.createDataFrame(
        [("z", 0), ("z", 0), ("n", None), ("p", 3)],
        "g string, x long",
    )
    got = {
        r.g: r
        for r in gini_concentration(df, "x", "g").collect()
    }
    # all-zero slice: S = 0 -> NULL statistics, counts kept
    assert got["z"].gini is None and got["z"].n == 2
    # all-NULL slice never materializes
    assert "n" not in got
    # singleton: G = 2*1*x/(1*x) - 2 = 0
    assert got["p"].gini == 0.0 and got["p"].top_share == 1.0


def test_gini_plan_no_python(spark):
    from protosc_spark.evaluation import gini_concentration

    df = spark.createDataFrame(
        [("a", 1), ("a", 2)], "g string, x long"
    )
    out = gini_concentration(df, "x", "g")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# mcnemar_test
# ---------------------------------------------------------------------------

def test_mcnemar_hand_cells_and_chi2(spark):
    from protosc_spark.evaluation import mcnemar_test

    # classic textbook table: b (a-only) = 15, c (b-only) = 5
    rows = (
        [(1, 1)] * 20 + [(0, 0)] * 10 + [(1, 0)] * 15 + [(0, 1)] * 5
    )
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r.n00, r.n01, r.n10, r.n11) == (10, 5, 15, 20)
    assert r.n == 50 and r.n_null == 0
    # (|15-5|-1)^2 / 20 = 81/20 = 4.05 > 3.841459
    assert abs(r.chi2 - 4.05) < 1e-12
    assert r.significant is True


def test_mcnemar_null_rows_excluded(spark):
    from protosc_spark.evaluation import mcnemar_test

    df = spark.createDataFrame(
        [(1, 1), (1, None), (None, 0), (0, 1)],
        "a int, b int",
    )
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert r.n == 2 and r.n_null == 2
    assert (r.n11, r.n01) == (1, 1)


def test_mcnemar_no_disagreement_guard(spark):
    from protosc_spark.evaluation import mcnemar_test

    df = spark.createDataFrame(
        [(1, 1), (0, 0), (1, 1)], "a int, b int"
    )
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert r.chi2 is None and r.significant is None


def test_mcnemar_boolean_columns_and_symmetry(spark):
    from protosc_spark.evaluation import mcnemar_test

    rows = [(True, False)] * 7 + [(False, True)] * 7
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = mcnemar_test(df, "a", "b").collect()[0]
    # b = c: corrected chi2 = 1/(b+c), the classical (unclamped) form
    assert abs(r.chi2 - 1.0 / 14.0) < 1e-12
    assert r.significant is False


def test_mcnemar_plan_no_python(spark):
    from protosc_spark.evaluation import mcnemar_test

    df = spark.createDataFrame([(1, 0)], "a int, b int")
    out = mcnemar_test(df, "a", "b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# hill_tail_index
# ---------------------------------------------------------------------------

def test_hill_recovers_planted_pareto(spark):
    import numpy as np
    from protosc_spark.evaluation import hill_tail_index

    # exact Pareto(alpha=2) quantiles: x_i = (i/n)^(-1/2), scaled
    n, alpha = 4000, 2.0
    rng = np.random.default_rng(3)
    u = rng.uniform(size=n)
    xs = np.ceil(100.0 * u ** (-1.0 / alpha)).astype(np.int64)
    df = spark.createDataFrame(
        [(int(i), int(x)) for i, x in enumerate(xs)],
        "doc_id long, x long",
    )
    r = hill_tail_index(df, "x", "doc_id", k=200).collect()[0]
    assert r.n_tail == 201
    # Hill on a planted alpha=2 tail: within 25% at k=200
    assert abs(r.alpha - alpha) / alpha < 0.25


def test_hill_matches_numpy_reference(spark):
    import math

    import numpy as np
    from protosc_spark.evaluation import hill_tail_index

    xs = [1000, 800, 800, 500, 400, 300, 250, 200, 150, 100, 90, 80]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "doc_id long, x long"
    )
    k = 5
    r = hill_tail_index(df, "x", "doc_id", k=k).collect()[0]
    v = np.sort(np.array(xs, dtype=np.float64))[::-1]
    # replay the quantization exactly
    q = np.floor(np.log(v[: k + 1]) * 1e9)
    ref_gamma = (q[:k].sum() - k * q[k]) / (k * 1e9)
    assert abs(r.gamma_hill - ref_gamma) < 1e-12
    assert r.x_tail == float(v[k])
    assert abs(r.alpha - 1.0 / ref_gamma) < 1e-9
    del math


def test_hill_short_and_constant_guards(spark):
    from protosc_spark.evaluation import hill_tail_index

    # fewer than k+1 positive rows -> NULL
    df = spark.createDataFrame(
        [(i, 10) for i in range(5)], "doc_id long, x long"
    )
    r = hill_tail_index(df, "x", "doc_id", k=10).collect()[0]
    assert r.gamma_hill is None and r.n_tail == 5
    # top k+1 all equal -> gamma 0 -> NULL
    df2 = spark.createDataFrame(
        [(i, 7) for i in range(30)], "doc_id long, x long"
    )
    r2 = hill_tail_index(df2, "x", "doc_id", k=10).collect()[0]
    assert r2.gamma_hill is None and r2.alpha is None


def test_hill_plan_uses_take_ordered(spark):
    from protosc_spark.evaluation import hill_tail_index

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_id long, x long"
    )
    out = hill_tail_index(df, "x", "doc_id", k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# fisher_exact
# ---------------------------------------------------------------------------

def _fisher_ref(n11, n10, n01, n00):
    """Exact two-sided Fisher p via integer binomials (no scipy)."""
    from math import comb

    N, K, n, k = (
        n11 + n10 + n01 + n00,
        n11 + n10,
        n11 + n01,
        n11,
    )
    lo, hi = max(0, K + n - N), min(K, n)
    ws = {j: comb(K, j) * comb(N - K, n - j) for j in range(lo, hi + 1)}
    tot = sum(ws.values())
    wobs = ws[k]
    return sum(v for v in ws.values() if v <= wobs * (1 + 1e-7)) / tot


def _mk_flags(spark, n11, n10, n01, n00):
    rows = (
        [(1, 1)] * n11 + [(1, 0)] * n10
        + [(0, 1)] * n01 + [(0, 0)] * n00
    )
    return spark.createDataFrame(rows, "a int, b int")


def test_fisher_matches_exact_fraction_reference(spark):
    from protosc_spark.evaluation import fisher_exact

    for cells in [(1, 9, 11, 3), (7, 2, 3, 8), (0, 10, 10, 0),
                  (5, 5, 5, 5)]:
        r = fisher_exact(
            _mk_flags(spark, *cells), "a", "b"
        ).collect()[0]
        ref = _fisher_ref(*cells)
        assert abs(r.p_value - ref) < 1e-9, (cells, r.p_value, ref)
    # balanced table: no association, p = 1 exactly
    r = fisher_exact(_mk_flags(spark, 5, 5, 5, 5), "a", "b")
    assert abs(r.collect()[0].p_value - 1.0) < 1e-9


def test_fisher_degenerate_margin(spark):
    from protosc_spark.evaluation import fisher_exact

    # K = 0: single-table support, p = 1, odds ratio NULL
    r = fisher_exact(_mk_flags(spark, 0, 0, 6, 4), "a", "b")
    row = r.collect()[0]
    assert row.support == 1 and row.p_value == 1.0
    assert row.odds_ratio is None


def test_fisher_abstains_over_max_support(spark):
    from protosc_spark.evaluation import fisher_exact

    df = _mk_flags(spark, 10, 10, 10, 10)
    r = fisher_exact(df, "a", "b", max_support=5).collect()[0]
    assert r.p_value is None and r.significant is None
    assert r.support == 21  # still reported


def test_fisher_significant_direction(spark):
    from protosc_spark.evaluation import fisher_exact

    # strong association
    r = fisher_exact(
        _mk_flags(spark, 18, 2, 3, 17), "a", "b"
    ).collect()[0]
    assert r.significant is True and r.p_value < 1e-4
    assert r.odds_ratio == (18 * 17) / (2 * 3)


# ---------------------------------------------------------------------------
# brown_forsythe
# ---------------------------------------------------------------------------

def _bf_ref(groups):
    """Plain-float Brown-Forsythe F (median-centered Levene), the
    scipy formulation: z = |x - median|, one-way ANOVA on z."""
    import statistics

    zs = [
        [abs(x - statistics.median(g)) for x in g] for g in groups
    ]
    N = sum(len(z) for z in zs)
    k = len(zs)
    zbar = sum(sum(z) for z in zs) / N
    ssb = sum(len(z) * (sum(z) / len(z) - zbar) ** 2 for z in zs)
    ssw = sum(
        sum((v - sum(z) / len(z)) ** 2 for v in z) for z in zs
    )
    return (ssb / (k - 1)) / (ssw / (N - k))


def _mk_groups(spark, groups):
    rows = [
        (f"g{i}", int(v))
        for i, g in enumerate(groups)
        for v in g
    ]
    return spark.createDataFrame(rows, "g string, x long")


def test_brown_forsythe_planted_heteroscedastic(spark):
    from protosc_spark.evaluation import brown_forsythe

    import random

    rng = random.Random(7)
    tight = [100 + rng.randint(-2, 2) for _ in range(120)]
    wide = [100 + rng.randint(-60, 60) for _ in range(120)]
    r = brown_forsythe(
        _mk_groups(spark, [tight, wide]), "x", "g"
    ).collect()[0]
    ref = _bf_ref([tight, wide])
    assert r.n == 240 and r.k == 2
    assert r.heterogeneous is True and r.z > 1.645
    # quantization unit is 1e-9 on a per-group term: sub-ppm drift
    assert abs(r.f_stat - ref) / ref < 1e-6, (r.f_stat, ref)


def test_brown_forsythe_numpy_replay(spark):
    """Digit-for-digit replay of the quantized pipeline in plain
    Python ints/floats (the same IEEE doubles Spark uses)."""
    from protosc_spark.evaluation import brown_forsythe

    import math
    import random
    import statistics

    rng = random.Random(42)
    groups = [
        [rng.randint(0, 50) for _ in range(37)],
        [rng.randint(10, 200) for _ in range(61)],
        [rng.randint(0, 9) for _ in range(23)],
    ]
    r = brown_forsythe(
        _mk_groups(spark, groups), "x", "g"
    ).collect()[0]

    unit = 10**9
    n_tot, t_tot, qq, bu = 0, 0, 0, 0
    for g in groups:
        sg_srt = sorted(g)
        ng = len(g)
        dmed = sg_srt[(ng + 1) // 2 - 1] + sg_srt[ng // 2]
        dz = [abs(2 * x - dmed) for x in g]
        sg, qg = sum(dz), sum(v * v for v in dz)
        n_tot += ng
        t_tot += sg
        qq += qg
        bu += math.floor(float(sg * sg) / float(ng) * float(unit))
    k = len(groups)
    bterm = float(bu) / float(unit)
    ssb = max(bterm - float(t_tot * t_tot) / float(n_tot), 0.0)
    ssw = float(qq) - bterm
    fref = (ssb / (k - 1.0)) / (ssw / (n_tot - k))
    zref = math.sqrt(2.0 * (k - 1.0) * fref) - math.sqrt(
        2.0 * (k - 1.0) - 1.0
    )
    assert r.f_stat == fref and r.z == zref
    # sanity vs the plain-float reference: same statistic
    assert abs(r.f_stat - _bf_ref(groups)) / _bf_ref(groups) < 1e-6
    # doubled-median parity with statistics.median
    for g in groups:
        s = sorted(g)
        assert (s[(len(g) + 1) // 2 - 1] + s[len(g) // 2]) / 2 == (
            statistics.median(g)
        )


def test_brown_forsythe_homogeneous_and_degenerate(spark):
    from protosc_spark.evaluation import brown_forsythe

    # identical multisets: SSB clamps to exactly 0
    g = [3, 7, 7, 9, 12, 12, 12, 40]
    r = brown_forsythe(_mk_groups(spark, [g, g]), "x", "g").collect()[0]
    assert r.f_stat == 0.0 and r.heterogeneous is False

    # one group: dof empty -> NULLs
    r = brown_forsythe(_mk_groups(spark, [g]), "x", "g").collect()[0]
    assert r.f_stat is None and r.heterogeneous is None

    # all-constant groups: SSW = 0 -> NULLs
    r = brown_forsythe(
        _mk_groups(spark, [[5] * 4, [9] * 6]), "x", "g"
    ).collect()[0]
    assert r.f_stat is None


# ---------------------------------------------------------------------------
# jonckheere_terpstra
# ---------------------------------------------------------------------------

def _jt_ref(groups):
    """Literal JT from the definition + Lehmann tie-corrected var,
    in plain Python ints/floats."""
    import math
    from collections import Counter

    jt2 = 0
    for i in range(len(groups)):
        for j in range(i + 1, len(groups)):
            for x in groups[i]:
                for y in groups[j]:
                    jt2 += 2 if x < y else (1 if x == y else 0)
    ns = [len(g) for g in groups]
    N = sum(ns)
    ties = Counter(v for g in groups for v in g)
    sa = sum(n * (n - 1) * (2 * n + 5) for n in ns)
    sb = sum(n * (n - 1) * (n - 2) for n in ns)
    sc = sum(n * (n - 1) for n in ns)
    ta = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    tb = sum(t * (t - 1) * (t - 2) for t in ties.values())
    tc = sum(t * (t - 1) for t in ties.values())
    var = (
        float(N * (N - 1) * (2 * N + 5) - sa - ta) / 72.0
        + float(sb) * float(tb)
        / (36.0 * float(N * (N - 1) * (N - 2)))
        + float(sc) * float(tc) / (8.0 * float(N * (N - 1)))
    )
    if var <= 0:
        return jt2, None
    d = float(2 * jt2 - (N * N - sum(n * n for n in ns)))
    return jt2, d / (4.0 * math.sqrt(var))


def test_jt_planted_monotone_trend(spark):
    from protosc_spark.evaluation import jonckheere_terpstra

    import random

    rng = random.Random(5)
    groups = [
        [rng.randint(0, 20) for _ in range(40)],
        [rng.randint(10, 30) for _ in range(40)],
        [rng.randint(20, 40) for _ in range(40)],
    ]
    df = _mk_groups(spark, groups)
    r = jonckheere_terpstra(df, "x", "g").collect()[0]
    jt2, z = _jt_ref(groups)
    assert r.n == 120 and r.k == 3
    assert r.jt2 == jt2 and r.z == z
    assert r.significant is True and r.direction == "increasing"

    # reversed group order flips the sign exactly
    rev = jonckheere_terpstra(
        _mk_groups(spark, groups[::-1]), "x", "g"
    ).collect()[0]
    assert rev.direction == "decreasing"
    jt2r, zr = _jt_ref(groups[::-1])
    assert rev.jt2 == jt2r and rev.z == zr


def test_jt_null_case_heavy_ties(spark):
    from protosc_spark.evaluation import jonckheere_terpstra

    import random

    rng = random.Random(13)
    # same distribution in every group, tiny support -> massive ties
    groups = [
        [rng.randint(0, 3) for _ in range(30)] for _ in range(4)
    ]
    r = jonckheere_terpstra(
        _mk_groups(spark, groups), "x", "g"
    ).collect()[0]
    jt2, z = _jt_ref(groups)
    assert r.jt2 == jt2 and r.z == z
    assert r.significant is False


def test_jt_degenerate(spark):
    from protosc_spark.evaluation import jonckheere_terpstra

    # one group: no ordered pairs -> NULL z
    r = jonckheere_terpstra(
        _mk_groups(spark, [[1, 2, 3]]), "x", "g"
    ).collect()[0]
    assert r.jt2 == 0 and r.z is None

    # all values identical: var = 0 -> NULL z
    r = jonckheere_terpstra(
        _mk_groups(spark, [[7] * 5, [7] * 5]), "x", "g"
    ).collect()[0]
    assert r.z is None and r.direction is None


# ---------------------------------------------------------------------------
# theil_u
# ---------------------------------------------------------------------------

def test_theil_u_directionality(spark):
    """a -> b deterministic but b -> a not: U(b|a) = 1 exactly,
    U(a|b) < 1, and both equal the literal entropy-ratio replay."""
    import math
    from collections import Counter

    from protosc_spark.evaluation import theil_u

    # b is a function of a (parity); a is NOT recoverable from b
    pairs = [(i % 4, i % 2) for i in range(40)] + [(0, 0)] * 5
    df = spark.createDataFrame(pairs, "a int, b int")
    r = theil_u(df, "a", "b").collect()[0]

    def h(xs):
        n = len(xs)
        return -sum(
            c / n * math.log(c / n) for c in Counter(xs).values()
        )

    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    mi = h(a) + h(b) - h(pairs)
    assert abs(r.mi - mi) < 1e-9
    # b | a deterministic: knowing a removes ALL of b's uncertainty
    assert abs(r.u_b_given_a - 1.0) < 1e-9
    assert abs(r.u_a_given_b - mi / h(a)) < 1e-9
    assert r.u_a_given_b < 0.999


def test_theil_u_degenerate_constant(spark):
    from protosc_spark.evaluation import theil_u

    df = spark.createDataFrame(
        [(1, x) for x in (1, 2, 3, 4)], "a int, b int"
    )
    r = theil_u(df, "a", "b").collect()[0]
    # H(a) = 0: that direction abstains, the other is defined
    assert r.u_a_given_b is None
    assert r.u_b_given_a is not None and abs(r.u_b_given_a) < 1e-9


# ---------------------------------------------------------------------------
# benford_audit
# ---------------------------------------------------------------------------

def _benford_ref(values, unit=10**9):
    """Digit-for-digit replay: string first digit, quantized
    per-digit terms, df=8 closed-form p."""
    import math
    from collections import Counter

    obs = Counter(
        int(str(v)[0]) for v in values if v is not None and v >= 1
    )
    n = sum(obs.values())
    if n == 0:
        return 0, None, None
    cu = 0
    for d in range(1, 10):
        e = float(n) * (
            math.log(1.0 + 1.0 / float(d)) / math.log(10.0)
        )
        diff = float(obs.get(d, 0)) - e
        cu += math.floor(diff * diff / e * float(unit))
    chi2 = float(cu) / float(unit)
    h = chi2 / 2.0
    p = math.exp(-h) * (
        1.0 + h + h * h / 2.0 + h * h * h / 6.0
    )
    return n, chi2, p


def _mk_vals(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v long")


def test_benford_conforming_sample(spark):
    import math

    from protosc_spark.evaluation import benford_audit

    # counts proportional to Benford: chi2 tiny, no deviation flag
    values = []
    for d in range(1, 10):
        c = round(1000 * math.log10(1 + 1 / d))
        values += [d * 10] * c
    r = benford_audit(_mk_vals(spark, values), "v").collect()[0]
    n, chi2, p = _benford_ref(values)
    assert r.n == n and r.chi2 == chi2 and r.p_value == p
    assert r.deviates is False and r.p_value > 0.5


def test_benford_uniform_digits_deviate(spark):
    from protosc_spark.evaluation import benford_audit

    values = [d * 100 + 7 for d in range(1, 10) for _ in range(50)]
    r = benford_audit(_mk_vals(spark, values), "v").collect()[0]
    n, chi2, p = _benford_ref(values)
    assert r.chi2 == chi2 and r.p_value == p
    assert r.deviates is True and r.p_value < 1e-6


def test_benford_missing_digits_and_filters(spark):
    from protosc_spark.evaluation import benford_audit

    # all mass on digit 1, plus rows that must be dropped
    values = [1, 10, 11, 19, 100, 150, 199, 0, -5, None]
    r = benford_audit(_mk_vals(spark, values), "v").collect()[0]
    n, chi2, p = _benford_ref(values)
    assert r.n == n == 7
    assert r.chi2 == chi2 and r.p_value == p
    # absent digits 2..9 still contribute (0 - e)^2 / e = e
    assert r.chi2 > 0


def test_benford_grouped(spark):
    from protosc_spark.evaluation import benford_audit

    rows = [("a", 1), ("a", 12), ("a", 13), ("b", 9), ("b", 95)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.g: r
        for r in benford_audit(df, "v", "g").collect()
    }
    na, ca, pa = _benford_ref([1, 12, 13])
    nb, cb, pb = _benford_ref([9, 95])
    assert out["a"].n == na and out["a"].chi2 == ca
    assert out["b"].n == nb and out["b"].p_value == pb


# ---------------------------------------------------------------------------
# kuiper_two_sample
# ---------------------------------------------------------------------------

def _kuiper_ref(pairs):
    """Literal Kuiper from ECDFs + the truncated series, plain
    floats mirroring the kernel's tree."""
    import math

    a = sorted(v for v, y in pairs if y == 1)
    b = sorted(v for v, y in pairs if y == 0)
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    dp_i, dm_i = 0, 0
    ca = cb = 0
    ia = ib = 0
    for v in vals:
        while ia < na and a[ia] <= v:
            ia += 1
        while ib < nb and b[ib] <= v:
            ib += 1
        s = ia * nb - ib * na
        dp_i = max(dp_i, s)
        dm_i = min(dm_i, s)
    prod = float(na * nb)
    dp = float(dp_i) / prod
    dm = -float(dm_i) / prod
    vv = dp + dm
    ne = prod / float(na + nb)
    lam = vv * (
        math.sqrt(ne) + 0.155 + 0.24 / math.sqrt(ne)
    )
    l2 = lam * lam
    if lam < 0.4:
        return dp, dm, vv, 1.0
    p = 2.0 * sum(
        (4.0 * (j * j) * l2 - 1.0)
        * math.exp(-2.0 * (j * j) * l2)
        for j in (1, 2, 3)
    )
    return dp, dm, vv, min(max(p, 0.0), 1.0)


def test_kuiper_shift_and_replay(spark):
    import random

    from protosc_spark.evaluation import kuiper_two_sample

    rng = random.Random(17)
    pairs = [(rng.randint(0, 40), 1) for _ in range(120)] + [
        (rng.randint(25, 65), 0) for _ in range(100)
    ]
    df = spark.createDataFrame(pairs, "v long, g int")
    r = kuiper_two_sample(df, "v", "g").collect()[0]
    dp, dm, vv, p = _kuiper_ref(pairs)
    assert (r.n_1, r.n_0) == (120, 100)
    assert abs(r.d_plus - dp) < 1e-15 and abs(r.d_minus - dm) < 1e-15
    assert abs(r.v - vv) < 1e-15 and abs(r.p_value - p) < 1e-12
    assert r.significant is True


def test_kuiper_catches_symmetric_tail_swap(spark):
    """A distribution with both tails fattened vs a middle-heavy
    one: single-sup KS is much weaker than V = D+ + D-."""
    from protosc_spark.evaluation import kuiper_two_sample

    g1 = [0] * 30 + [50] * 40 + [100] * 30
    g0 = [25] * 50 + [75] * 50
    pairs = [(v, 1) for v in g1] + [(v, 0) for v in g0]
    df = spark.createDataFrame(pairs, "v long, g int")
    r = kuiper_two_sample(df, "v", "g").collect()[0]
    dp, dm, vv, p = _kuiper_ref(pairs)
    assert abs(r.v - vv) < 1e-15
    # both directions contribute materially
    assert r.d_plus > 0.2 and r.d_minus > 0.2
    assert r.significant is True


def test_kuiper_identical_and_degenerate(spark):
    from protosc_spark.evaluation import kuiper_two_sample

    pairs = [(v, y) for v in (1, 2, 3, 4, 5) for y in (0, 1)] * 8
    df = spark.createDataFrame(pairs, "v long, g int")
    r = kuiper_two_sample(df, "v", "g").collect()[0]
    assert r.v == 0.0 and r.p_value == 1.0
    assert r.significant is False

    one = spark.createDataFrame([(3, 1), (4, 1)], "v long, g int")
    r = kuiper_two_sample(one, "v", "g").collect()[0]
    assert r.v is None and r.p_value is None


# ---------------------------------------------------------------------------
# agreement_stats
# ---------------------------------------------------------------------------

def _agree_ref(pairs):
    """Integer-moment replay mirroring the kernel's float tree."""
    import math

    n = len(pairs)
    sa = sum(a for a, _ in pairs)
    sb = sum(b for _, b in pairs)
    saa = sum(a * a for a, _ in pairs)
    sbb = sum(b * b for _, b in pairs)
    sab = sum(a * b for a, b in pairs)
    cov = n * sab - sa * sb
    va, vb = n * saa - sa * sa, n * sbb - sb * sb
    ccc = float(2 * cov) / float(va + vb + (sa - sb) ** 2)
    r = float(cov) / (
        math.sqrt(float(va)) * math.sqrt(float(vb))
    )
    sd = sa - sb
    sdd = saa - 2 * sab + sbb
    mean_d = float(sd) / float(n)
    sd_diff = math.sqrt(
        float(n * sdd - sd * sd) / (float(n) * (float(n) - 1.0))
    )
    return ccc, r, mean_d, sd_diff


def test_agreement_perfect_and_scaled(spark):
    from protosc_spark.evaluation import agreement_stats

    # perfect agreement: ccc = r = 1, zero diff band
    pairs = [(v, v) for v in (3, 7, 11, 20, 41)]
    df = spark.createDataFrame(pairs, "a long, b long")
    r = agreement_stats(df, "a", "b").collect()[0]
    assert r.ccc == 1.0 and r.pearson_r == 1.0
    assert r.mean_diff == 0.0 and r.sd_diff == 0.0

    # b = 2a: r stays 1, ccc collapses — the whole point of ccc
    pairs = [(v, 2 * v) for v in (3, 7, 11, 20, 41)]
    df = spark.createDataFrame(pairs, "a long, b long")
    r = agreement_stats(df, "a", "b").collect()[0]
    ccc, rr, md, sdd = _agree_ref(pairs)
    assert r.pearson_r == rr == 1.0
    assert r.ccc == ccc and r.ccc < 0.7
    assert r.bias_c == r.ccc / r.pearson_r


def test_agreement_noisy_replay(spark):
    import random

    from protosc_spark.evaluation import agreement_stats

    rng = random.Random(31)
    pairs = [
        (v, v + rng.randint(-5, 9))
        for v in (rng.randint(0, 100) for _ in range(200))
    ]
    df = spark.createDataFrame(pairs, "a long, b long")
    r = agreement_stats(df, "a", "b").collect()[0]
    ccc, rr, md, sdd = _agree_ref(pairs)
    assert r.ccc == ccc and r.pearson_r == rr
    assert r.mean_diff == md and r.sd_diff == sdd
    assert r.loa_lo == md - 1.96 * sdd
    assert r.loa_hi == md + 1.96 * sdd


def test_agreement_degenerate(spark):
    from protosc_spark.evaluation import agreement_stats

    # constant a: variance 0 -> ccc/r NULL, diff band defined
    pairs = [(5, v) for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(pairs, "a long, b long")
    r = agreement_stats(df, "a", "b").collect()[0]
    assert r.ccc is None and r.pearson_r is None
    assert r.mean_diff == (5 * 4 - 10) / 4

    # single row: no sd
    df = spark.createDataFrame([(3, 4)], "a long, b long")
    r = agreement_stats(df, "a", "b").collect()[0]
    assert r.sd_diff is None and r.ccc is None


# ---------------------------------------------------------------------------
# rbo_overlap
# ---------------------------------------------------------------------------

def _rbo_ref(sa, sb, depth=100, p=0.9, unit=10**15):
    """Digit-for-digit replay: deterministic (score desc, item)
    rankings, exact X_d, quantized terms, exp(d ln p)."""
    import math

    ra = [
        i for i, _ in sorted(
            sa.items(), key=lambda kv: (-kv[1], kv[0])
        )
    ][:depth]
    rb = [
        i for i, _ in sorted(
            sb.items(), key=lambda kv: (-kv[1], kv[0])
        )
    ][:depth]
    D = min(depth, len(ra), len(rb))
    if D < 1:
        return len(ra), len(rb), D, None, None, None
    pos_a = {it: r + 1 for r, it in enumerate(ra)}
    pos_b = {it: r + 1 for r, it in enumerate(rb)}
    ms = sorted(
        max(pos_a[i], pos_b[i])
        for i in set(pos_a) & set(pos_b)
        if max(pos_a[i], pos_b[i]) <= D
    )
    lnp = math.log(p)
    su, xD = 0, 0
    for d in range(1, D + 1):
        x = sum(1 for m in ms if m <= d)
        su += math.floor(
            math.exp(float(d) * lnp)
            * float(x) / float(d) * float(unit)
        )
        if d == D:
            xD = x
    head = ((1.0 - p) / p) * (float(su) / float(unit))
    tail = math.exp(float(D) * lnp) * (float(xD) / float(D))
    return (
        len(ra), len(rb), D, xD, float(xD) / float(D),
        head + tail,
    )


def _mk_scores(spark, sa, sb):
    items = sorted(set(sa) | set(sb))
    rows = [(i, sa.get(i), sb.get(i)) for i in items]
    return spark.createDataFrame(rows, "item string, a long, b long")


def test_rbo_identical_and_disjoint(spark):
    from protosc_spark.evaluation import rbo_overlap

    sa = {f"t{i}": 100 - i for i in range(20)}
    r = rbo_overlap(
        _mk_scores(spark, sa, dict(sa)), "item", "a", "b", depth=10
    ).collect()[0]
    ref = _rbo_ref(sa, dict(sa), depth=10)
    assert r.rbo == ref[5] and abs(r.rbo - 1.0) < 1e-9
    assert r.agreement == 1.0 and r.depth_used == 10

    sb = {f"u{i}": 100 - i for i in range(20)}
    r = rbo_overlap(
        _mk_scores(spark, sa, sb), "item", "a", "b", depth=10
    ).collect()[0]
    assert r.rbo == 0.0 and r.overlap == 0


def test_rbo_partial_reorder_replay(spark):
    import random

    from protosc_spark.evaluation import rbo_overlap

    rng = random.Random(23)
    items = [f"w{i}" for i in range(60)]
    sa = {it: rng.randint(1, 500) for it in items}
    # b: same scores on a shuffled subset + some exclusive items
    sb = {
        it: sa[it] + rng.randint(-40, 40)
        for it in items[:45]
    }
    sb.update({f"x{i}": rng.randint(1, 500) for i in range(15)})
    r = rbo_overlap(
        _mk_scores(spark, sa, sb), "item", "a", "b", depth=25
    ).collect()[0]
    na, nb, D, xD, agr, rbo = _rbo_ref(sa, sb, depth=25)
    assert (r.n_a, r.n_b, r.depth_used) == (na, nb, D)
    assert r.overlap == xD and r.agreement == agr
    assert r.rbo == rbo and 0.0 < r.rbo < 1.0


def test_rbo_short_lists_and_empty(spark):
    from protosc_spark.evaluation import rbo_overlap

    # b has only 3 items: depth clamps to 3
    sa = {f"t{i}": 50 - i for i in range(10)}
    sb = {"t0": 9, "t1": 8, "zz": 7}
    r = rbo_overlap(
        _mk_scores(spark, sa, sb), "item", "a", "b", depth=10
    ).collect()[0]
    ref = _rbo_ref(sa, sb, depth=10)
    assert r.depth_used == 3 and r.rbo == ref[5]

    # one side empty -> NULL rbo
    r = rbo_overlap(
        _mk_scores(spark, sa, {}), "item", "a", "b"
    ).collect()[0]
    assert r.depth_used == 0 and r.rbo is None


# ---------------------------------------------------------------------------
# youden_threshold
# ---------------------------------------------------------------------------

def _youden_ref(pairs):
    """Literal sweep over distinct thresholds, smallest-t ties."""
    P = sum(1 for _, y in pairs if y == 1)
    N = len(pairs) - P
    best = None
    for t in sorted({s for s, _ in pairs}):
        tp = sum(1 for s, y in pairs if s >= t and y == 1)
        fp = sum(1 for s, y in pairs if s >= t and y == 0)
        jn = tp * N - fp * P
        if best is None or jn > best[0] or (
            jn == best[0] and t < best[1]
        ):
            best = (jn, t, tp, fp)
    jn, t, tp, fp = best
    return (
        P, N, t, float(jn) / float(P * N),
        float(tp) / float(P), float(fp) / float(N),
        float(tp + (N - fp)) / float(P + N),
    )


def test_youden_separable_and_noisy(spark):
    import random

    from protosc_spark.evaluation import youden_threshold

    # cleanly separable at 50
    pairs = [(v, 1) for v in (60, 70, 80, 55)] + [
        (v, 0) for v in (10, 20, 30, 45)
    ]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = youden_threshold(df, "s", "y").collect()[0]
    assert r.j == 1.0 and r.tpr == 1.0 and r.fpr == 0.0
    assert r.threshold == 55 and r.accuracy == 1.0

    rng = random.Random(8)
    pairs = [
        (rng.randint(0, 60) + (25 if y else 0), y)
        for y in (rng.randint(0, 1) for _ in range(300))
    ]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = youden_threshold(df, "s", "y").collect()[0]
    P, N, t, j, tpr, fpr, acc = _youden_ref(pairs)
    assert (r.n_pos, r.n_neg, r.threshold) == (P, N, t)
    assert r.j == j and r.tpr == tpr and r.fpr == fpr
    assert r.accuracy == acc


def test_youden_tie_and_degenerate(spark):
    from protosc_spark.evaluation import youden_threshold

    # two thresholds attain the same J: smallest wins
    pairs = [(1, 0), (2, 1), (3, 0), (4, 1), (5, 1)]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = youden_threshold(df, "s", "y").collect()[0]
    P, N, t, j, *_ = _youden_ref(pairs)
    assert r.threshold == t and r.j == j

    # one class empty -> NULLs
    df = spark.createDataFrame([(1, 1), (2, 1)], "s long, y int")
    r = youden_threshold(df, "s", "y").collect()[0]
    assert r.j is None and r.threshold is None


def test_youden_empty_frame_one_null_row(spark):
    """Like the rest of the two-sample family, an empty input gives
    one row with every column NULL, not zero rows."""
    from protosc_spark.evaluation import youden_threshold

    df = spark.createDataFrame([], "s long, y int")
    rows = youden_threshold(df, "s", "y").collect()
    assert len(rows) == 1
    assert all(x is None for x in rows[0])


# ---------------------------------------------------------------------------
# weighted_kappa
# ---------------------------------------------------------------------------

def _wkappa_ref(pairs):
    """Exact-integer replay mirroring the deferred-1/N form."""
    from collections import Counter

    cells = Counter(pairs)
    n = len(pairs)
    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    nl = sum(abs(a - b) * c for (a, b), c in cells.items())
    nq = sum((a - b) ** 2 * c for (a, b), c in cells.items())
    dl = sum(
        abs(i - j) * ra[i] * cb[j] for i in ra for j in cb
    )
    dq = sum(
        (i - j) ** 2 * ra[i] * cb[j] for i in ra for j in cb
    )
    kl = 1.0 - float(n * nl) / float(dl) if dl > 0 else None
    kq = 1.0 - float(n * nq) / float(dq) if dq > 0 else None
    return n, kl, kq


def test_wkappa_perfect_offbyone_random(spark):
    import random

    from protosc_spark.evaluation import weighted_kappa

    # perfect agreement: both kappas exactly 1
    pairs = [(v, v) for v in (0, 1, 2, 3, 4) * 10]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    assert r.kappa_linear == 1.0 and r.kappa_quadratic == 1.0

    # off-by-one rater: quadratic forgives more than linear
    rng = random.Random(2)
    pairs = [
        (v, min(4, v + rng.randint(0, 1)))
        for v in (rng.randint(0, 4) for _ in range(400))
    ]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    n, kl, kq = _wkappa_ref(pairs)
    assert r.kappa_linear == kl and r.kappa_quadratic == kq
    assert r.kappa_quadratic > r.kappa_linear > 0.5


def test_wkappa_independent_near_zero(spark):
    import random

    from protosc_spark.evaluation import weighted_kappa

    rng = random.Random(6)
    pairs = [
        (rng.randint(0, 4), rng.randint(0, 4)) for _ in range(600)
    ]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    n, kl, kq = _wkappa_ref(pairs)
    assert r.kappa_linear == kl and r.kappa_quadratic == kq
    assert abs(r.kappa_linear) < 0.1 and abs(r.kappa_quadratic) < 0.1


def test_wkappa_constant_rater_null(spark):
    from protosc_spark.evaluation import weighted_kappa

    pairs = [(2, v) for v in (0, 1, 2, 3)]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    # rater a constant: chance penalty still > 0 (b varies), defined
    n, kl, kq = _wkappa_ref(pairs)
    assert r.kappa_linear == kl

    pairs = [(2, 2)] * 5
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    assert r.kappa_linear is None and r.kappa_quadratic is None


# ---------------------------------------------------------------------------
# average_precision
# ---------------------------------------------------------------------------

def _ap_ref(pairs, unit=10**15):
    """Quantized replay of the distinct-threshold step AP."""
    import math
    from collections import Counter

    pos = Counter(s for s, y in pairs if y == 1)
    neg = Counter(s for s, y in pairs if y == 0)
    P = sum(pos.values())
    if P == 0:
        return None
    su, tp, fp = 0, 0, 0
    for v in sorted(set(pos) | set(neg), reverse=True):
        dp = pos.get(v, 0)
        tp += dp
        fp += neg.get(v, 0)
        if dp > 0:
            term = (float(dp) / float(P)) * (
                float(tp) / float(tp + fp)
            )
            su += math.floor(term * float(unit))
    return float(su) / float(unit)


def test_ap_perfect_and_sklearn_convention(spark):
    from protosc_spark.evaluation import average_precision

    # perfect ranking: AP = 1
    pairs = [(9, 1), (8, 1), (7, 0), (6, 0)]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = average_precision(df, "s", "y").collect()[0]
    assert abs(r.ap - 1.0) < 1e-12 and r.baseline == 0.5

    # worst ranking: AP -> well below baseline... but never 0
    pairs = [(1, 1), (2, 1), (8, 0), (9, 0)]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = average_precision(df, "s", "y").collect()[0]
    assert r.ap == _ap_ref(pairs) and r.ap < 0.5


def test_ap_ties_and_imbalance_replay(spark):
    import random

    from protosc_spark.evaluation import average_precision

    rng = random.Random(14)
    # rare positives, tie-heavy integer scores
    pairs = [
        (rng.randint(0, 15) + (6 if y else 0), y)
        for y in (1 if rng.random() < 0.07 else 0
                  for _ in range(800))
    ]
    df = spark.createDataFrame(pairs, "s long, y int")
    r = average_precision(df, "s", "y").collect()[0]
    ref = _ap_ref(pairs)
    assert r.ap == ref
    P = sum(1 for _, y in pairs if y == 1)
    assert r.n_pos == P and r.baseline == P / len(pairs)
    # informative ranking: beats the prevalence baseline
    assert r.ap > r.baseline


def test_ap_no_positives_null(spark):
    from protosc_spark.evaluation import average_precision

    df = spark.createDataFrame(
        [(3, 0), (5, 0)], "s long, y int"
    )
    r = average_precision(df, "s", "y").collect()[0]
    assert r.ap is None and r.n_pos == 0


# ---------------------------------------------------------------------------
# brier_decomposition
# ---------------------------------------------------------------------------

def _brier_ref(pairs, n_bins=10, unit=10**9, term_unit=10**15):
    """Digit-for-digit replay of the quantized decomposition."""
    import math
    from collections import defaultdict

    U, TU = unit, float(term_unit)
    rows = [
        (math.floor(p * float(U)), y)
        for p, y in pairs
        if 0 <= p <= 1
    ]
    n = len(rows)
    bins = defaultdict(lambda: [0, 0, 0, 0, 0])
    tspp = tspy = tsy = 0
    for qp, y in rows:
        bi = min(math.floor(float(qp * n_bins) / float(U)),
                 n_bins - 1)
        st = bins[bi]
        st[0] += 1
        st[1] += qp
        st[2] += qp * qp
        st[3] += y
        st[4] += qp * y
        tspp += qp * qp
        tspy += qp * y
        tsy += y
    bs = float(tspp - 2 * U * tspy + U * U * tsy) / (
        float(n) * float(U) * float(U)
    )
    rel_u = res_u = 0
    for nb, sp, spp, sy, spy in bins.values():
        drel = float(sp - U * sy) / float(U)
        rel_u += math.floor(drel * drel / float(nb) * TU)
        dres = float(n * sy - nb * tsy) / float(n)
        res_u += math.floor(dres * dres / float(nb) * TU)
    rel = float(rel_u) / TU / float(n)
    res = float(res_u) / TU / float(n)
    unc = float(tsy * (n - tsy)) / (float(n) * float(n))
    return bs, rel, res, unc


def test_brier_calibrated_vs_overconfident(spark):
    import random

    from protosc_spark.evaluation import brier_decomposition

    rng = random.Random(19)
    # perfectly calibrated: p drawn from {0.1..0.9}, y ~ Bern(p)
    cal = []
    for _ in range(2000):
        p = rng.choice([0.1, 0.3, 0.5, 0.7, 0.9])
        cal.append((p, 1 if rng.random() < p else 0))
    df = spark.createDataFrame(cal, "p double, y int")
    r = brier_decomposition(df, "p", "y").collect()[0]
    bs, rel, res, unc = _brier_ref(cal)
    assert r.brier == bs and r.reliability == rel
    assert r.resolution == res and r.uncertainty == unc
    assert r.reliability < 0.01  # calibrated: tiny REL

    # same labels, overconfident forecasts: REL blows up
    over = [(0.99 if y else 0.01, y) for _, y in cal[:1000]]
    # ...but with labels flipped 30% of the time
    rng2 = random.Random(3)
    over = [
        (p, y if rng2.random() > 0.3 else 1 - y)
        for p, y in over
    ]
    df = spark.createDataFrame(over, "p double, y int")
    r2 = brier_decomposition(df, "p", "y").collect()[0]
    bs2, rel2, _, _ = _brier_ref(over)
    assert r2.brier == bs2 and r2.reliability == rel2
    assert r2.reliability > 0.05 and r2.brier > r.brier


def test_brier_identity_and_degenerate(spark):
    from protosc_spark.evaluation import brier_decomposition

    # one forecast value per bin: BS == REL - RES + UNC exactly
    # (no within-bin variance), up to the quantization units
    pairs = [(0.25, 0), (0.25, 1), (0.25, 0), (0.75, 1),
             (0.75, 1), (0.75, 0)]
    df = spark.createDataFrame(pairs, "p double, y int")
    r = brier_decomposition(df, "p", "y").collect()[0]
    assert abs(r.within_bin_var) < 1e-9

    # out-of-range rows dropped
    df = spark.createDataFrame(
        [(0.5, 1), (1.5, 0), (-0.2, 1)], "p double, y int"
    )
    r = brier_decomposition(df, "p", "y").collect()[0]
    assert r.n == 1


# ---------------------------------------------------------------------------
# cochran_q
# ---------------------------------------------------------------------------

def _cochran_ref(rows):
    """Exact-integer replay + df=2 closed-form p."""
    import math

    rows = [r for r in rows if None not in r]
    n = len(rows)
    cs = [sum(r[j] for r in rows) for j in range(3)]
    sr = sum(sum(r) for r in rows)
    sr2 = sum(sum(r) ** 2 for r in rows)
    den = 3 * sr - sr2
    if den <= 0:
        return n, cs, None, None
    q = float(2 * (3 * sum(c * c for c in cs) - sr * sr)) / float(
        den
    )
    return n, cs, q, math.exp(-q / 2.0)


def test_cochran_planted_disagreement(spark):
    import random

    from protosc_spark.evaluation import cochran_q

    rng = random.Random(27)
    # filter 3 passes far less than 1 and 2
    rows = [
        (
            1 if rng.random() < 0.8 else 0,
            1 if rng.random() < 0.75 else 0,
            1 if rng.random() < 0.3 else 0,
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "f1 int, f2 int, f3 int")
    r = cochran_q(df, ["f1", "f2", "f3"]).collect()[0]
    n, cs, q, p = _cochran_ref(rows)
    assert (r.c1, r.c2, r.c3) == tuple(cs)
    assert r.q == q and r.p_value == p
    assert r.significant is True


def test_cochran_equivalent_filters_null_case(spark):
    import random

    from protosc_spark.evaluation import cochran_q

    rng = random.Random(41)
    # same pass probability, independent noise: Q small
    rows = [
        tuple(1 if rng.random() < 0.5 else 0 for _ in range(3))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "f1 int, f2 int, f3 int")
    r = cochran_q(df, ["f1", "f2", "f3"]).collect()[0]
    n, cs, q, p = _cochran_ref(rows)
    assert r.q == q and r.p_value == p
    assert r.significant is False


def test_cochran_degenerate_and_nulls(spark):
    from protosc_spark.evaluation import cochran_q

    # unanimous rows only: denominator 0 -> NULL
    rows = [(1, 1, 1)] * 5 + [(0, 0, 0)] * 5
    df = spark.createDataFrame(rows, "f1 int, f2 int, f3 int")
    r = cochran_q(df, ["f1", "f2", "f3"]).collect()[0]
    assert r.q is None and r.significant is None

    # NULL flags dropped (complete case)
    rows = [(1, 0, 1), (1, None, 0), (0, 1, 1)]
    df = spark.createDataFrame(rows, "f1 int, f2 int, f3 int")
    r = cochran_q(df, ["f1", "f2", "f3"]).collect()[0]
    assert r.n == 2


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def _rrf_ref(sa, sb, k=60, depth=100, out_k=20, unit=10**15):
    """Pure-integer replay of the fusion."""
    def ranks(sc):
        ordered = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))
        return {i: r + 1 for r, (i, _) in enumerate(ordered[:depth])}

    ra, rb = ranks(sa), ranks(sb)
    items = set(ra) | set(rb)
    scored = []
    for i in items:
        su = 0
        if i in ra:
            su += unit // (k + ra[i])
        if i in rb:
            su += unit // (k + rb[i])
        scored.append((i, su))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return [
        (r + 1, i, su / unit, ra.get(i), rb.get(i))
        for r, (i, su) in enumerate(scored[:out_k])
    ]


def test_rrf_consensus_wins(spark):
    from protosc_spark.evaluation import rrf_fuse

    # 'both' is rank 2 in each list; each list has a different #1.
    # RRF puts the consensus item first.
    sa = {"both": 90, "a_top": 100, "a3": 80, "a4": 70}
    sb = {"both": 90, "b_top": 100, "b3": 80, "b4": 70}
    items = sorted(set(sa) | set(sb))
    rows = [(i, sa.get(i), sb.get(i)) for i in items]
    df = spark.createDataFrame(rows, "item string, a long, b long")
    out = rrf_fuse(df, "item", "a", "b", out_k=10).collect()
    ref = _rrf_ref(sa, sb, out_k=10)
    got = [(r.rank, r.item, r.rrf_score, r.rank_a, r.rank_b)
           for r in out]
    assert got == ref
    assert got[0][1] == "both"


def test_rrf_random_replay_and_missing(spark):
    import random

    from protosc_spark.evaluation import rrf_fuse

    rng = random.Random(52)
    sa = {f"w{i}": rng.randint(1, 1000) for i in range(150)}
    sb = {f"w{i}": rng.randint(1, 1000) for i in range(140, 290)}
    items = sorted(set(sa) | set(sb))
    rows = [(i, sa.get(i), sb.get(i)) for i in items]
    df = spark.createDataFrame(rows, "item string, a long, b long")
    out = rrf_fuse(df, "item", "a", "b").collect()
    ref = _rrf_ref(sa, sb)
    got = [(r.rank, r.item, r.rrf_score, r.rank_a, r.rank_b)
           for r in out]
    assert got == ref
    # items outside a list's top-depth carry a NULL rank there
    assert any(r.rank_a is None or r.rank_b is None for r in out)


# ---------------------------------------------------------------------------
# distribution_distances
# ---------------------------------------------------------------------------

def _dist_ref(pairs, unit=10**15):
    """Replay: exact TVD, quantized BC, the kernel's float trees."""
    import math
    from collections import Counter

    ca = Counter(v for v, y in pairs if y == 1)
    cb = Counter(v for v, y in pairs if y == 0)
    na, nb = sum(ca.values()), sum(cb.values())
    tv = sum(
        abs(ca.get(v, 0) * nb - cb.get(v, 0) * na)
        for v in set(ca) | set(cb)
    )
    bcu = sum(
        math.floor(
            math.sqrt(float(ca.get(v, 0) * cb.get(v, 0)))
            * float(unit)
        )
        for v in set(ca) | set(cb)
    )
    tvd = float(tv) / float(2 * na * nb)
    bc = float(bcu) / float(unit) / math.sqrt(float(na * nb))
    return tvd, bc, math.sqrt(max(1.0 - bc, 0.0))


def test_distances_disjoint_identical_shifted(spark):
    import random

    from protosc_spark.evaluation import distribution_distances

    # disjoint supports: TVD = 1, BC = 0, H = 1
    pairs = [(v, 1) for v in (1, 2, 3) * 5] + [
        (v, 0) for v in (10, 11) * 5
    ]
    df = spark.createDataFrame(pairs, "v long, g int")
    r = distribution_distances(df, "v", "g").collect()[0]
    assert r.tvd == 1.0 and r.bc == 0.0 and r.hellinger == 1.0

    # identical multisets: TVD = 0, BC = 1 (up to quantization)
    vals = [1, 1, 2, 5, 9]
    pairs = [(v, 1) for v in vals] + [(v, 0) for v in vals]
    df = spark.createDataFrame(pairs, "v long, g int")
    r = distribution_distances(df, "v", "g").collect()[0]
    assert r.tvd == 0.0 and abs(r.bc - 1.0) < 1e-9
    assert r.hellinger < 1e-4

    # noisy shifted: digit-exact replay
    rng = random.Random(77)
    pairs = [(rng.randint(0, 30), 1) for _ in range(200)] + [
        (rng.randint(10, 45), 0) for _ in range(150)
    ]
    df = spark.createDataFrame(pairs, "v long, g int")
    r = distribution_distances(df, "v", "g").collect()[0]
    tvd, bc, hel = _dist_ref(pairs)
    assert r.tvd == tvd and r.bc == bc and r.hellinger == hel
    assert 0 < r.tvd < 1 and 0 < r.hellinger < 1


def test_distances_empty_group_null(spark):
    from protosc_spark.evaluation import distribution_distances

    df = spark.createDataFrame([(1, 1), (2, 1)], "v long, g int")
    r = distribution_distances(df, "v", "g").collect()[0]
    assert r.tvd is None and r.hellinger is None


# kruskal_wallis / dunn_posthoc ------------------------------------


def _kw_machinery(groups):
    """Python replay of the shared doubled-midrank machinery."""
    from collections import Counter

    allv = [v for g in groups for v in g]
    n_tot = len(allv)
    cnt = Counter(allv)
    r2, cum = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        r2[v] = 2 * cum + t + 1
        cum += t
    tie = sum(t * t * t - t for t in cnt.values())
    per = [
        (len(g), sum(r2[v] for v in g)) for g in groups
    ]
    return n_tot, tie, per


def _kw_ref(groups, unit=10**9):
    """Digit-for-digit replay of the quantized deviation-form H
    (same IEEE doubles, same floor grid)."""
    import math

    n_tot, tie, per = _kw_machinery(groups)
    nd = float(n_tot)
    hu = 0
    for ng, r2g in per:
        d2 = float(r2g - ng * (n_tot + 1))
        contrib = (
            3.0 * d2 * d2
            / (4.0 * float(ng) * nd * (nd + 1.0))
        )
        hu += math.floor(contrib * float(unit))
    h_unc = float(hu) / float(unit)
    tf = 1.0 - float(tie) / float(
        (n_tot - 1) * n_tot * (n_tot + 1)
    )
    return max(h_unc / tf, 0.0), tf


def test_kruskal_digit_exact_replay(spark):
    from protosc_spark.evaluation import kruskal_wallis

    import math
    import random

    rng = random.Random(13)
    groups = [
        [rng.randint(0, 40) for _ in range(83)],
        [rng.randint(5, 55) for _ in range(47)],
        [rng.randint(0, 40) for _ in range(129)],
    ]
    r = kruskal_wallis(
        _mk_groups(spark, groups), "x", "g"
    ).collect()[0]
    h_ref, tf_ref = _kw_ref(groups)
    n_tot = sum(len(g) for g in groups)
    assert r.n == n_tot and r.k == 3
    assert r.tie_factor == tf_ref
    assert r.h == h_ref
    assert r.epsilon_sq == h_ref / (float(n_tot) - 1.0)
    z_ref = math.sqrt(2.0 * h_ref) - math.sqrt(2.0 * 2.0 - 1.0)
    assert r.z == z_ref
    assert r.significant == (z_ref > 1.6448536269514722)


def test_kruskal_planted_shift_vs_null(spark):
    from protosc_spark.evaluation import kruskal_wallis

    import random

    rng = random.Random(5)
    base = [rng.randint(0, 100) for _ in range(150)]
    shifted = [v + 60 for v in base]
    r = kruskal_wallis(
        _mk_groups(spark, [base, list(base), shifted]), "x", "g"
    ).collect()[0]
    assert r.significant is True and r.h > 50

    null = kruskal_wallis(
        _mk_groups(spark, [base, list(base), list(base)]),
        "x",
        "g",
    ).collect()[0]
    # three identical samples: H tiny, nowhere near the 5% line
    assert null.significant is False and null.h < 2


def test_kruskal_degenerate_all_tied(spark):
    from protosc_spark.evaluation import kruskal_wallis

    r = kruskal_wallis(
        _mk_groups(spark, [[7] * 10, [7] * 12]), "x", "g"
    ).collect()[0]
    # one tie block: tie_factor 0, H undefined
    assert r.tie_factor == 0.0
    assert r.h is None and r.z is None and r.significant is None


def test_dunn_digit_exact_and_selectivity(spark):
    from protosc_spark.evaluation import dunn_posthoc

    import math
    import random

    rng = random.Random(11)
    same_a = [rng.randint(0, 100) for _ in range(90)]
    same_b = [rng.randint(0, 100) for _ in range(70)]
    far = [v + 500 for v in same_a[:80]]
    groups = [same_a, same_b, far]
    rows = dunn_posthoc(
        _mk_groups(spark, groups), "x", "g"
    ).orderBy("g_a", "g_b").collect()
    assert [(r.g_a, r.g_b) for r in rows] == [
        ("g0", "g1"), ("g0", "g2"), ("g1", "g2")
    ]
    # replay
    n_tot, tie, per = _kw_machinery(groups)
    nd = float(n_tot)
    var_d = (
        nd * (nd + 1.0) - float(tie) / (nd - 1.0)
    ) / 3.0
    for r, (ia, ib) in zip(rows, [(0, 1), (0, 2), (1, 2)]):
        na, r2a = per[ia]
        nb, r2b = per[ib]
        mda = float(r2a) / float(na)
        mdb = float(r2b) / float(nb)
        se = math.sqrt(
            var_d * (1.0 / float(na) + 1.0 / float(nb))
        )
        z_ref = (mda - mdb) / se
        assert r.z == z_ref
        assert r.mean_rank_a == mda / 2.0
        assert r.n_a == na and r.n_b == nb
    # only the pairs against the shifted group move
    assert rows[0].significant is False
    assert rows[1].significant is True
    assert rows[2].significant is True


# energy_distance ---------------------------------------------------


def _mk_two(spark, xs, ys):
    rows = [(int(v), 1) for v in xs] + [(int(v), 0) for v in ys]
    return spark.createDataFrame(rows, "x long, g int")


def test_energy_distance_brute_force(spark):
    from protosc_spark.evaluation import energy_distance

    import random

    rng = random.Random(3)
    xs = [rng.randint(0, 30) for _ in range(41)]
    ys = [rng.randint(10, 60) for _ in range(29)]
    r = energy_distance(
        _mk_two(spark, xs, ys), "x", "g"
    ).collect()[0]
    n1, n0 = len(xs), len(ys)
    pab = sum(abs(x - y) for x in xs for y in ys)
    paa = sum(
        abs(xs[i] - xs[j])
        for i in range(n1)
        for j in range(i + 1, n1)
    )
    pbb = sum(
        abs(ys[i] - ys[j])
        for i in range(n0)
        for j in range(i + 1, n0)
    )
    aa = float(pab) / (float(n1) * float(n0))
    bb = 2.0 * float(paa) / (float(n1) * float(n1))
    cc = 2.0 * float(pbb) / (float(n0) * float(n0))
    e_ref = 2.0 * aa - bb - cc
    assert r.n_1 == n1 and r.n_0 == n0
    assert r.e_dist == e_ref
    assert r.t_stat == float(n1) * float(n0) / float(
        n1 + n0
    ) * e_ref


def test_energy_distance_identical_is_zero(spark):
    from protosc_spark.evaluation import energy_distance

    vals = [1, 1, 2, 3, 5, 8, 13, 21] * 4
    r = energy_distance(
        _mk_two(spark, vals, list(vals)), "x", "g"
    ).collect()[0]
    assert r.e_dist == 0.0 and r.t_stat == 0.0


def test_energy_distance_separated_and_empty(spark):
    from protosc_spark.evaluation import energy_distance

    r = energy_distance(
        _mk_two(spark, [0, 1, 2] * 10, [1000, 1001, 1002] * 10),
        "x",
        "g",
    ).collect()[0]
    # supports ~1000 apart: E ~ 2 * gap
    assert 1900 < r.e_dist < 2100 and r.t_stat > 0

    empty = energy_distance(
        _mk_two(spark, [1, 2, 3], []), "x", "g"
    ).collect()[0]
    assert empty.n_0 == 0
    assert empty.e_dist is None and empty.t_stat is None


# ordinal_association ----------------------------------------------


def _mk_pairs(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    )


def _ordinal_ref(pairs):
    """Brute-force O(n^2) replay over raw row pairs."""
    n = len(pairs)
    c = d = tb_only = ta_only = 0
    for i in range(n):
        for j in range(i + 1, n):
            (a1, b1), (a2, b2) = pairs[i], pairs[j]
            if a1 == a2 and b1 == b2:
                continue
            if a1 == a2:
                ta_only += 1
            elif b1 == b2:
                tb_only += 1
            elif (a2 - a1) * (b2 - b1) > 0:
                c += 1
            else:
                d += 1
    m = min(len({a for a, _ in pairs}), len({b for _, b in pairs}))
    num = float(c - d)
    s = c + d
    gamma = num / float(s) if s else None
    d_ba = (
        2.0 * num / float(2 * s + 2 * tb_only)
        if s + tb_only
        else None
    )
    d_ab = (
        2.0 * num / float(2 * s + 2 * ta_only)
        if s + ta_only
        else None
    )
    tau_c = (
        2.0 * float(m) * num / (float(n * n) * (float(m) - 1.0))
        if m > 1 and n
        else None
    )
    return c, d, m, gamma, d_ba, d_ab, tau_c


def test_ordinal_assoc_brute_force(spark):
    from protosc_spark.evaluation import ordinal_association

    import random

    rng = random.Random(17)
    pairs = [
        (rng.randint(0, 4), rng.randint(0, 3)) for _ in range(120)
    ]
    r = ordinal_association(
        _mk_pairs(spark, pairs), "a", "b"
    ).collect()[0]
    c, d, m, gamma, d_ba, d_ab, tau_c = _ordinal_ref(pairs)
    assert (r.n_concordant, r.n_discordant) == (c, d)
    assert r.n == 120 and r.m == m
    assert r.gamma == gamma
    assert r.somers_d_ba == d_ba and r.somers_d_ab == d_ab
    assert r.tau_c == tau_c


def test_ordinal_assoc_perfect_and_independent(spark):
    from protosc_spark.evaluation import ordinal_association

    # strictly monotone map: every ordering pair concordant
    perfect = [(i, i * 2) for i in range(10)] * 3
    r = ordinal_association(
        _mk_pairs(spark, perfect), "a", "b"
    ).collect()[0]
    assert r.gamma == 1.0
    assert r.somers_d_ba == 1.0 and r.somers_d_ab == 1.0
    assert r.n_discordant == 0

    # b constant: no ordering pairs at all -> gamma undefined,
    # somers_d_ba 0/positive-denominator, tau_c needs m > 1
    const = [(i % 3, 7) for i in range(30)]
    r2 = ordinal_association(
        _mk_pairs(spark, const), "a", "b"
    ).collect()[0]
    assert r2.gamma is None and r2.tau_c is None
    assert r2.somers_d_ba == 0.0  # ties-on-b dominate denominator
    assert r2.somers_d_ab is None  # C+D+T_a = 0


def test_ordinal_assoc_reversed_sign(spark):
    from protosc_spark.evaluation import ordinal_association

    rev = [(i, 100 - i) for i in range(20)]
    r = ordinal_association(
        _mk_pairs(spark, rev), "a", "b"
    ).collect()[0]
    assert r.gamma == -1.0 and r.somers_d_ba == -1.0


# ad_two_sample -----------------------------------------------------


def _ad_ref(xs, ys, unit=10**9):
    """Digit-for-digit replay of the quantized k=2 tie-adjusted
    Anderson-Darling pipeline."""
    import math
    from collections import Counter

    ca, cb = Counter(xs), Counter(ys)
    n1, n0 = len(xs), len(ys)
    nn = n1 + n0
    su = 0
    cum_l = cum_a = 0
    for v in sorted(set(xs) | set(ys)):
        a, b = ca.get(v, 0), cb.get(v, 0)
        l = a + b
        db = 2 * cum_l + l
        dm = 2 * cum_a + a
        e = nn * dm - n1 * db
        den = db * (2 * nn - db) - nn * l
        if den > 0:
            contrib = (
                float(l) * float(e) * float(e)
                / (float(n1) * float(n0) * float(den))
            )
            su += math.floor(contrib * float(unit))
        cum_l += l
        cum_a += a
    return (
        (float(nn) - 1.0) / float(nn)
        * (float(su) / float(unit))
    )


def test_ad_two_sample_digit_exact_replay(spark):
    from protosc_spark.evaluation import ad_two_sample

    import random

    rng = random.Random(23)
    xs = [rng.randint(0, 50) for _ in range(130)]
    ys = [rng.randint(0, 50) for _ in range(90)]
    r = ad_two_sample(
        _mk_two(spark, xs, ys), "x", "g"
    ).collect()[0]
    a2_ref = _ad_ref(xs, ys)
    assert r.n_1 == 130 and r.n_0 == 90
    assert r.a2 == a2_ref
    assert r.significant == (a2_ref > 2.492)


def test_ad_two_sample_tail_sensitivity(spark):
    from protosc_spark.evaluation import ad_two_sample

    import random

    rng = random.Random(9)
    base = [rng.randint(40, 60) for _ in range(300)]
    # same bulk, contaminated far tail: the AD signature case
    tail = [rng.randint(40, 60) for _ in range(270)] + [
        rng.randint(400, 500) for _ in range(30)
    ]
    r = ad_two_sample(
        _mk_two(spark, tail, base), "x", "g"
    ).collect()[0]
    assert r.significant is True and r.a2 > 2.492

    null = ad_two_sample(
        _mk_two(spark, base, list(base)), "x", "g"
    ).collect()[0]
    assert null.significant is False


def test_ad_two_sample_degenerate(spark):
    from protosc_spark.evaluation import ad_two_sample

    # one value holds the whole pooled sample: every den = 0
    r = ad_two_sample(
        _mk_two(spark, [5] * 10, [5] * 10), "x", "g"
    ).collect()[0]
    assert r.a2 == 0.0

    empty = ad_two_sample(
        _mk_two(spark, [], [1, 2]), "x", "g"
    ).collect()[0]
    assert empty.a2 is None and empty.significant is None


# rfm_segments ------------------------------------------------------


def _orders_df(spark, rows):
    """rows: (cust, day_offset, amount)"""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (c, base + datetime.timedelta(days=d), float(a))
            for c, d, a in rows
        ],
        "cust long, ts timestamp, amount double",
    )


def test_rfm_exact_grid_and_labels(spark):
    from protosc_spark.evaluation import rfm_segments

    # 10 customers: cust i orders (i+1) times, amounts 10*(i+1),
    # most recent order day = i (cust 9 most recent)
    rows = []
    for i in range(10):
        for j in range(i + 1):
            rows.append((i, i - j, 10.0 * (i + 1)))
    out = rfm_segments(
        _orders_df(spark, rows), "cust", "ts", "amount"
    ).collect()
    # scores are perfectly aligned: recency, frequency and monetary
    # all rank customers identically -> only diagonal cells occupied
    cells = {(r.r_score, r.f_score, r.m_score): r for r in out}
    assert all(r == f == m for (r, f, m) in cells)
    assert set(cells) == {(k, k, k) for k in (1, 2, 3, 4, 5)}
    assert cells[(5, 5, 5)].label == "champion"
    assert cells[(1, 1, 1)].label == "hibernating"
    assert cells[(3, 3, 3)].label == "core"
    # each quintile holds exactly 2 of the 10 customers
    assert all(r.n_entities == 2 for r in out)
    # exact cents: cust 9 total = 10 orders x 100.00
    top = cells[(5, 5, 5)]
    # quintile 5 = customers 8 and 9: 9*90 + 10*100
    assert top.total_amount == 9 * 90.0 + 10 * 100.0
    assert top.avg_amount == top.total_amount / 2.0


def test_rfm_ties_share_a_bin(spark):
    from protosc_spark.evaluation import rfm_segments

    # 10 identical customers: every metric constant -> everyone in
    # bin 1 for all three scores (ntile would split them 2-2-2-2-2)
    rows = [(i, 0, 50.0) for i in range(10)]
    out = rfm_segments(
        _orders_df(spark, rows), "cust", "ts", "amount"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.r_score, r.f_score, r.m_score) == (1, 1, 1)
    assert r.n_entities == 10 and r.total_amount == 500.0


def test_rfm_new_vs_at_risk(spark):
    from protosc_spark.evaluation import rfm_segments

    rows = []
    # 8 background customers with mid recency/frequency
    for i in range(8):
        for j in range(3):
            rows.append((i, 10 + j, 20.0))
    # 'new': ordered once, yesterday (max recency score, low freq)
    rows.append((100, 30, 20.0))
    # 'at_risk': ordered 9 times, long ago
    for j in range(9):
        rows.append((200, j, 20.0))
    out = rfm_segments(
        _orders_df(spark, rows), "cust", "ts", "amount"
    ).collect()
    labels = {}
    for r in out:
        labels.setdefault(r.label, 0)
        labels[r.label] += r.n_entities
    assert labels.get("new", 0) >= 1
    assert labels.get("at_risk", 0) >= 1


# icc_oneway --------------------------------------------------------


def _icc_ref(groups, unit=10**9):
    import math

    k = len(groups)
    n = sum(len(g) for g in groups)
    s = sum(sum(g) for g in groups)
    q = sum(v * v for g in groups for v in g)
    bu = 0
    for g in groups:
        sg = sum(g)
        bu += math.floor(
            float(sg * sg) / float(len(g)) * float(unit)
        )
    nn2 = sum(len(g) ** 2 for g in groups)
    b = float(bu) / float(unit)
    ssb = b - float(s * s) / float(n)
    ssw = float(q) - b
    msb = ssb / (float(k) - 1.0)
    msw = ssw / (float(n) - float(k))
    k0 = (float(n) - float(nn2) / float(n)) / (float(k) - 1.0)
    icc = (msb - msw) / (msb + (k0 - 1.0) * msw)
    return msb, msw, k0, icc


def test_icc_digit_exact_replay(spark):
    from protosc_spark.evaluation import icc_oneway

    import random

    rng = random.Random(29)
    groups = [
        [rng.randint(0, 100) for _ in range(rng.randint(20, 60))]
        for _ in range(5)
    ]
    r = icc_oneway(
        _mk_groups(spark, groups), "x", "g"
    ).collect()[0]
    msb, msw, k0, icc = _icc_ref(groups)
    assert r.msb == msb and r.msw == msw
    assert r.k0 == k0 and r.icc == icc
    # homogeneous random groups: ICC near 0
    assert abs(icc) < 0.1


def test_icc_separated_groups_near_one(spark):
    from protosc_spark.evaluation import icc_oneway

    import random

    rng = random.Random(31)
    groups = [
        [1000 * i + rng.randint(-3, 3) for _ in range(30)]
        for i in range(4)
    ]
    r = icc_oneway(
        _mk_groups(spark, groups), "x", "g"
    ).collect()[0]
    assert r.icc > 0.99


def test_icc_degenerate(spark):
    from protosc_spark.evaluation import icc_oneway

    one = icc_oneway(
        _mk_groups(spark, [[1, 2, 3]]), "x", "g"
    ).collect()[0]
    assert one.icc is None and one.k == 1


# tost_equivalence --------------------------------------------------


def test_tost_equivalent_vs_shifted(spark):
    from protosc_spark.evaluation import tost_equivalence

    import random

    rng = random.Random(37)
    a = [rng.randint(90, 110) for _ in range(400)]
    b = [rng.randint(90, 110) for _ in range(400)]
    eq = tost_equivalence(
        _mk_two(spark, a, b), "x", "g", margin=5.0
    ).collect()[0]
    assert eq.equivalent is True
    assert eq.z_lower > 1.645 and eq.z_upper > 1.645

    shifted = tost_equivalence(
        _mk_two(spark, [v + 10 for v in a], b),
        "x",
        "g",
        margin=5.0,
    ).collect()[0]
    # true diff 10 > margin 5: upper test must fail hard
    assert shifted.equivalent is False
    assert shifted.z_upper < 0


def test_tost_underpowered_is_not_equivalent(spark):
    from protosc_spark.evaluation import tost_equivalence

    import random

    rng = random.Random(41)
    # tiny n, huge spread: Welch would not reject either, but TOST
    # correctly refuses to declare equivalence
    a = [rng.randint(0, 1000) for _ in range(5)]
    b = [rng.randint(0, 1000) for _ in range(5)]
    r = tost_equivalence(
        _mk_two(spark, a, b), "x", "g", margin=5.0
    ).collect()[0]
    assert r.equivalent is False


def test_tost_replay_and_degenerate(spark):
    from protosc_spark.evaluation import tost_equivalence

    import math

    a, b = [10, 12, 14, 16], [11, 13, 15, 17]
    r = tost_equivalence(
        _mk_two(spark, a, b), "x", "g", margin=3.0
    ).collect()[0]
    n1, n0 = 4, 4
    m1, m0 = sum(a) / 4.0, sum(b) / 4.0
    q1 = sum(v * v for v in a)
    q0 = sum(v * v for v in b)
    s1, s0 = sum(a), sum(b)
    v1 = float(n1 * q1 - s1 * s1) / (4.0 * 3.0)
    v0 = float(n0 * q0 - s0 * s0) / (4.0 * 3.0)
    se = math.sqrt(v1 / 4.0 + v0 / 4.0)
    diff = m1 - m0
    assert r.diff == diff and r.se == se
    assert r.z_lower == (diff + 3.0) / se
    assert r.z_upper == (3.0 - diff) / se

    const = tost_equivalence(
        _mk_two(spark, [5, 5], [5, 5]), "x", "g", margin=1.0
    ).collect()[0]
    # zero variance: se 0 -> NULL statistics
    assert const.z_lower is None and const.equivalent is None


# chi2_cell_residuals -----------------------------------------------


def test_chi2_residuals_textbook_replay(spark):
    from protosc_spark.evaluation import chi2_cell_residuals

    import math

    # planted association: a0 prefers b0, a1 prefers b1
    rows = (
        [("a0", "b0")] * 40
        + [("a0", "b1")] * 10
        + [("a1", "b0")] * 10
        + [("a1", "b1")] * 40
    )
    df = spark.createDataFrame(rows, "x string, y string")
    out = {
        (r.a, r.b): r
        for r in chi2_cell_residuals(df, "x", "y").collect()
    }
    n = 100.0
    marg = {"a0": 50.0, "a1": 50.0, "b0": 50.0, "b1": 50.0}
    for (a, b), r in out.items():
        o = {("a0", "b0"): 40, ("a0", "b1"): 10,
             ("a1", "b0"): 10, ("a1", "b1"): 40}[(a, b)]
        e = marg[a] * marg[b] / n
        ref = (o - e) / math.sqrt(
            e * (1 - marg[a] / n) * (1 - marg[b] / n)
        )
        assert abs(r.std_residual - ref) < 1e-9, (a, b)
        assert r.observed == o and r.expected == e
    assert out[("a0", "b0")].flagged is True
    assert out[("a0", "b0")].std_residual > 0
    assert out[("a0", "b1")].std_residual < 0
    # 2x2 symmetry: all four |residuals| equal
    vals = [abs(r.std_residual) for r in out.values()]
    assert max(vals) - min(vals) < 1e-12


def test_chi2_residuals_zero_cell_and_independent(spark):
    from protosc_spark.evaluation import chi2_cell_residuals

    # a2 never appears with b1: the zero cell must appear with a
    # NEGATIVE residual
    rows = (
        [("a1", "b0")] * 20
        + [("a1", "b1")] * 20
        + [("a2", "b0")] * 20
    )
    df = spark.createDataFrame(rows, "x string, y string")
    out = {
        (r.a, r.b): r
        for r in chi2_cell_residuals(df, "x", "y").collect()
    }
    assert len(out) == 4  # full 2x2 grid
    zc = out[("a2", "b1")]
    assert zc.observed == 0 and zc.std_residual < 0

    # perfectly proportional table: every residual exactly 0
    rows2 = (
        [("p", "q")] * 30 + [("p", "r")] * 10
        + [("s", "q")] * 15 + [("s", "r")] * 5
    )
    df2 = spark.createDataFrame(rows2, "x string, y string")
    for r in chi2_cell_residuals(df2, "x", "y").collect():
        assert r.std_residual == 0.0 and r.flagged is False


# ---------------------------------------------------------- isotonic
class TestIsotonicCalibration:
    def _fit(self, spark, rows):
        from protosc_spark.evaluation import isotonic_calibration

        df = spark.createDataFrame(rows, "score int, y int")
        return {
            r["score"]: r
            for r in isotonic_calibration(df, "score", "y").collect()
        }

    def test_violator_pooling_hand_fixture(self, spark):
        # rates 1.0, 0.0 at scores 1, 2 -> pooled to 0.5 on both;
        # score 3 rate 1.0 stays above
        rows = [(1, 1), (1, 1), (2, 0), (2, 0), (3, 1), (3, 1)]
        out = self._fit(spark, rows)
        assert out[1]["iso_rate"] == out[2]["iso_rate"] == 0.5
        assert out[3]["iso_rate"] == 1.0
        assert out[1]["rate"] == 1.0 and out[2]["rate"] == 0.0

    def test_already_monotone_is_identity(self, spark):
        rows = []
        for s, (n, p) in enumerate([(4, 0), (4, 1), (4, 2), (4, 4)]):
            rows += [(s, 1)] * p + [(s, 0)] * (n - p)
        out = self._fit(spark, rows)
        for s, (n, p) in enumerate([(4, 0), (4, 1), (4, 2), (4, 4)]):
            assert abs(out[s]["iso_rate"] - p / n) < 2e-6
            assert out[s]["rate"] == round(p / n, 6)

    def test_matches_numpy_pav_and_monotone(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        score = rng.randint(0, 30, 3000)
        y = (rng.rand(3000) < score / 45.0 + 0.05).astype(int)
        out = self._fit(
            spark, [(int(a), int(b)) for a, b in zip(score, y)]
        )
        # reference PAV (weighted, exact fraction compares)
        import collections

        agg = collections.OrderedDict()
        for a, b in sorted(zip(score, y)):
            agg.setdefault(int(a), [0, 0])
            agg[int(a)][0] += 1
            agg[int(a)][1] += int(b)
        blocks = []
        for v in agg:
            blocks.append([agg[v][1], agg[v][0]])
            while (
                len(blocks) > 1
                and blocks[-2][0] * blocks[-1][1]
                >= blocks[-1][0] * blocks[-2][1]
            ):
                b2 = blocks.pop()
                blocks[-1][0] += b2[0]
                blocks[-1][1] += b2[1]
        pav, bi, taken = {}, 0, 0
        for v in agg:
            pav[v] = blocks[bi][0] / blocks[bi][1]
            taken += agg[v][0]
            if taken == blocks[bi][1]:
                bi, taken = bi + 1, 0
        vals = sorted(agg)
        assert all(
            abs(out[v]["iso_rate"] - pav[v]) < 2e-6 for v in vals
        )
        assert all(
            out[vals[i]]["iso_rate"] <= out[vals[i + 1]]["iso_rate"]
            for i in range(len(vals) - 1)
        )

    def test_parallelism_invariant(self, spark):
        from protosc_spark.evaluation import isotonic_calibration
        import numpy as np

        rng = np.random.RandomState(3)
        rows = [
            (int(a), int(b))
            for a, b in zip(
                rng.randint(0, 20, 800), rng.randint(0, 2, 800)
            )
        ]
        df = spark.createDataFrame(rows, "score int, y int")
        a = isotonic_calibration(df.repartition(1), "score", "y")
        b = isotonic_calibration(df.repartition(13), "score", "y")
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_degenerate_single_value(self, spark):
        out = self._fit(spark, [(5, 1), (5, 0), (5, 1)])
        assert len(out) == 1
        assert abs(out[5]["iso_rate"] - 2 / 3) < 2e-6


# ---------------------------------------------------------- conformal
class TestConformalThreshold:
    def _run(self, spark, cal_vals, ev_vals, alphas=(200, 100, 50)):
        from protosc_spark.evaluation import conformal_threshold

        cal = spark.createDataFrame([(int(v),) for v in cal_vals], "s int")
        ev = spark.createDataFrame([(int(v),) for v in ev_vals], "s int")
        return {
            r["alpha_milli"]: r
            for r in conformal_threshold(cal, ev, "s", alphas).collect()
        }

    def test_hand_fixture_order_statistic(self, spark):
        out = self._run(spark, range(1, 11), [3, 9, 10, 11], (200,))
        r = out[200]
        # k = ceil(11 * 0.8) = 9 -> threshold = 9th smallest = 9
        assert r["k"] == 9 and r["threshold"] == 9
        assert r["n_eval"] == 4 and r["covered"] == 2
        assert r["coverage"] == 0.5

    def test_matches_numpy_order_statistic_with_ties(self, spark):
        import numpy as np

        rng = np.random.RandomState(1)
        cal = rng.randint(0, 50, 500)
        ev = rng.randint(0, 60, 300)
        out = self._run(spark, cal, ev)
        for am in (200, 100, 50):
            k = ((len(cal) + 1) * (1000 - am) + 999) // 1000
            t = int(np.sort(cal)[k - 1])
            r = out[am]
            assert r["k"] == k and r["threshold"] == t
            assert r["covered"] == int((ev <= t).sum())

    def test_vacuous_level_abstains(self, spark):
        out = self._run(spark, range(5), range(5), (50,))
        r = out[50]
        # k = ceil(6 * 0.95) = 6 > n_cal = 5 -> vacuous
        assert r["k"] == 6 and r["threshold"] is None
        assert r["covered"] is None and r["coverage"] is None
        assert r["n_eval"] == 5

    def test_coverage_tracks_level_iid(self, spark):
        import numpy as np

        rng = np.random.RandomState(2)
        cal = rng.randint(0, 10**6, 4000)
        ev = rng.randint(0, 10**6, 4000)
        out = self._run(spark, cal, ev)
        for am in (200, 100, 50):
            cov = out[am]["coverage"]
            assert abs(cov - (1 - am / 1000)) < 0.03


# ------------------------------------------------------ bradley-terry
class TestBradleyTerry:
    def _fit(self, spark, rows, n_iter=25):
        from protosc_spark.evaluation import bradley_terry

        df = spark.createDataFrame(
            rows, "a string, b string, wins_a double, wins_b double"
        )
        return {
            r["item"]: r
            for r in bradley_terry(df, n_iter=n_iter).collect()
        }

    @staticmethod
    def _python_mm(rows, n_iter=25):
        items = sorted({r[0] for r in rows} | {r[1] for r in rows})
        praw = sorted(rows)
        W = {
            it: sum(w for (a, _, w, _) in praw if a == it)
            + sum(l for (_, b, _, l) in praw if b == it)
            for it in items
        }
        p = {it: 1.0 for it in items}
        for _ in range(n_iter):
            raw = {}
            for it in items:
                den = 0.0
                for (a, b, w, l) in praw:
                    if a == it or b == it:
                        other = b if a == it else a
                        den += (w + l) / (p[it] + p[other])
                raw[it] = W[it] / den
            s = sum(raw.values()) / len(items)
            p = {it: v / s for it, v in raw.items()}
        return p

    def test_matches_python_mm_exactly(self, spark):
        rows = [
            ("x", "y", 7.0, 3.0),
            ("x", "z", 6.0, 4.0),
            ("y", "z", 5.0, 5.0),
            ("w", "x", 1.0, 9.0),
            ("w", "z", 2.0, 8.0),
        ]
        out = self._fit(spark, rows)
        p = self._python_mm(rows)
        for it, v in p.items():
            assert out[it]["strength"] == round(v, 6)

    def test_dominant_item_ranks_first(self, spark):
        rows = [
            ("a", "b", 9.0, 1.0),
            ("a", "c", 8.0, 2.0),
            ("b", "c", 6.0, 4.0),
        ]
        out = self._fit(spark, rows)
        assert out["a"]["rank"] == 1 and out["c"]["rank"] == 3
        assert out["a"]["strength"] > out["b"]["strength"]
        assert out["a"]["n_wins"] == 17 and out["a"]["n_games"] == 20

    def test_strengths_recover_win_probabilities(self, spark):
        # generate wins from known strengths; the MLE must put the
        # implied win probability near the generating one
        true_p = {"a": 4.0, "b": 2.0, "c": 1.0}
        rows = []
        n = 400
        for x, y in [("a", "b"), ("a", "c"), ("b", "c")]:
            pr = true_p[x] / (true_p[x] + true_p[y])
            rows.append((x, y, round(n * pr), n - round(n * pr)))
        out = self._fit(
            spark, [(a, b, float(w), float(l)) for a, b, w, l in rows]
        )
        for x, y in [("a", "b"), ("b", "c")]:
            est = out[x]["strength"] / (
                out[x]["strength"] + out[y]["strength"]
            )
            want = true_p[x] / (true_p[x] + true_p[y])
            assert abs(est - want) < 0.02

    def test_zero_game_pairs_excluded(self, spark):
        rows = [
            ("a", "b", 3.0, 1.0),
            ("a", "q", 0.0, 0.0),  # no games: q must not appear
        ]
        out = self._fit(spark, rows)
        assert set(out) == {"a", "b"}

    @pytest.mark.parametrize(
        "rows", [[], [("a", "q", 0.0, 0.0)]], ids=["empty", "zero_games"]
    )
    def test_no_games_gives_empty_result(self, spark, rows):
        assert self._fit(spark, rows) == {}


# ------------------------------------------------ mondrian conformal
class TestConformalByGroup:
    def _run(self, spark, cal_rows, ev_rows, alphas=(200,)):
        from protosc_spark.evaluation import conformal_threshold_by_group

        cal = spark.createDataFrame(cal_rows, "g string, s int")
        ev = spark.createDataFrame(ev_rows, "g string, s int")
        return {
            (r["g"], r["alpha_milli"]): r
            for r in conformal_threshold_by_group(
                cal, ev, "s", "g", alphas
            ).collect()
        }

    def test_per_group_order_statistics(self, spark):
        cal = [("a", v) for v in range(1, 11)]
        cal += [("b", 10 * v) for v in range(1, 21)]
        ev = [("a", 5), ("a", 10), ("b", 170), ("b", 300)]
        out = self._run(spark, cal, ev)
        ra = out[("a", 200)]
        # group a: k = ceil(11*0.8) = 9 -> 9th smallest = 9
        assert ra["k"] == 9 and ra["threshold"] == 9
        assert ra["covered"] == 1 and ra["n_eval"] == 2
        rb = out[("b", 200)]
        # group b: k = ceil(21*0.8) = 17 -> 170
        assert rb["k"] == 17 and rb["threshold"] == 170
        assert rb["covered"] == 1

    def test_small_group_abstains_big_group_does_not(self, spark):
        cal = [("tiny", v) for v in range(3)]
        cal += [("big", v) for v in range(100)]
        ev = [("tiny", 1), ("big", 50)]
        out = self._run(spark, cal, ev, alphas=(50,))
        assert out[("tiny", 50)]["threshold"] is None
        assert out[("big", 50)]["threshold"] is not None

    def test_groups_need_both_splits(self, spark):
        cal = [("a", 1), ("a", 2), ("calonly", 5)]
        ev = [("a", 1), ("evalonly", 9)]
        out = self._run(spark, cal, ev)
        assert {g for g, _ in out} == {"a"}


def test_conformal_by_group_parallelism_invariant(spark):
    import numpy as np

    from protosc_spark.evaluation import conformal_threshold_by_group

    rng = np.random.RandomState(11)
    rows = [
        (["a", "b", "c"][g], int(v))
        for g, v in zip(rng.randint(0, 3, 900), rng.randint(0, 60, 900))
    ]
    cal = spark.createDataFrame(rows[:600], "g string, s int")
    ev = spark.createDataFrame(rows[600:], "g string, s int")
    a = conformal_threshold_by_group(
        cal.repartition(1), ev.repartition(1), "s", "g"
    )
    b = conformal_threshold_by_group(
        cal.repartition(13), ev.repartition(7), "s", "g"
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )

"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from decimal import Decimal

import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402
from perfbench.run import overhead  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402
from perfbench.workloads import Ingest, Queries, Sample, end_to_end, percentile  # noqa: E402

# -- generators ---------------------------------------------------------------


def test_corpus_is_deterministic_for_a_seed():
    a, b = gen.invoice_corpus(7, 120), gen.invoice_corpus(7, 120)
    assert a.digest() == b.digest()
    assert a.tallies == b.tallies and a.trust_sum == b.trust_sum


def test_corpus_differs_across_seeds():
    assert gen.invoice_corpus(7, 120).digest() != gen.invoice_corpus(8, 120).digest()


def test_corpus_tallies_cover_every_accepted_pdf():
    c = gen.invoice_corpus(3, 300)
    pdfs = sum(content.startswith(b"%PDF") for _, content in c.docs)
    assert sum(c.tallies.values()) == pdfs == 300 - c.rejects
    assert c.rejects > 0 and len({status for status, _ in c.tallies}) == 3


def test_canary_digest_matches_the_writer():
    assert gen.check_canary() is None


def test_tables_are_deterministic_for_a_seed_and_differ_across_seeds(tmp_path):
    def contents(seed, sub):
        out = tmp_path / sub
        gen.write_tables(seed, str(out))
        return {f: pq.read_table(out / f).to_pydict() for f in sorted(os.listdir(out))}

    first = contents(5, "a")
    assert first == contents(5, "b")
    assert first["orders.parquet"] != contents(6, "c")["orders.parquet"]


def test_cnpj_check_digits_match_known_documents():
    assert gen.cnpj_digits("042520110001") == "10"
    assert gen.cnpj_digits("112223330001") == "81"


@pytest.mark.parametrize("variant,total,want", [
    ("ok", 999_999, ("success", "processamento_normal", Decimal("1.00"))),
    ("noisy", 1_000_001, ("success", "auditoria_fiscal", Decimal("1.00"))),
    ("bad_issuer", 5_000, ("error", "revisao_manual", Decimal("0.00"))),
    ("no_recipient", 2_000_000, ("partial", "auditoria_fiscal", Decimal("0.90"))),
    ("no_total", 2_000_000, ("partial", "revisao_manual", Decimal("0.50"))),
])
def test_expected_verdicts_follow_the_routing_rules(variant, total, want):
    assert gen.expected_verdict(variant, total) == want


def test_brl_format():
    assert gen.format_brl(445000) == "4.450,00"
    assert gen.format_brl(12345678) == "123.456,78"
    assert gen.format_brl(5) == "0,05"


# -- self time ------------------------------------------------------------------


def test_covered_merges_overlapping_intervals():
    assert covered([]) == 0.0
    assert covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert covered([(1.0, 2.0), (0.0, 3.0)]) == pytest.approx(3.0)


def test_self_time_is_duration_minus_children():
    spans = [
        Span(1, 1, None, "root", 0.0, 10.0),
        Span(2, 1, 1, "a", 1.0, 4.0),
        Span(3, 1, 1, "b", 3.0, 6.0),  # overlaps a: counted once
        Span(4, 1, 2, "a.child", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_under_one_trace():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("inner"):
            pass
    with tr.span("next"):
        pass
    inner, op, nxt = tr.spans
    assert inner.parent == op.span_id and inner.trace_id == op.trace_id
    assert nxt.parent is None and nxt.trace_id != op.trace_id
    assert op.start <= inner.start <= inner.end <= op.end


def test_tracing_overhead_is_the_share_a_metric_gets_worse():
    assert overhead(1.1, 1.0, "lower") == pytest.approx(0.10)  # seconds: more is worse
    assert overhead(90.0, 100.0, "higher") == pytest.approx(0.1 / 0.9)  # rate: less is worse
    assert overhead(0.95, 1.0, "lower") < 0  # traced ran faster


# -- output checks fail on corrupted results ------------------------------------


def test_tally_check_rejects_a_moved_row_and_a_changed_score():
    c = gen.invoice_corpus(4, 200)
    assert checks.check_tallies(Counter(c.tallies), c.trust_sum, c.tallies, c.trust_sum) is None
    moved = Counter(c.tallies)
    moved[("success", "processamento_normal")] -= 1
    moved[("partial", "processamento_normal")] += 1
    assert "tallies differ" in checks.check_tallies(moved, c.trust_sum, c.tallies, c.trust_sum)
    off = c.trust_sum - Decimal("0.10")
    assert "trust-score" in checks.check_tallies(Counter(c.tallies), off, c.tallies, c.trust_sum)


def test_digest_check_ignores_row_order_but_rejects_a_changed_cell():
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    want = checks.result_digest(["k", "v"], pdf)
    shuffled = pdf.iloc[[2, 0, 1]].reset_index(drop=True)
    assert checks.check_digest("q", checks.result_digest(["k", "v"], shuffled), want) is None
    bad = pdf.copy()
    bad.loc[1, "v"] = 1.5000001
    assert "oracle digest" in checks.check_digest("q", checks.result_digest(["k", "v"], bad), want)
    ints = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}).astype({"k": float})
    assert checks.result_digest(["k", "v"], ints) != want  # 1.0 is not 1


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([0, 10], 90) == pytest.approx(9.0)


def test_percentile_of_nothing_is_zero():
    assert percentile([], 90) == 0.0


def test_end_to_end_metrics_are_shared_by_the_workloads():
    passes = [Sample("ingest.pass", t, True, "pass", u, False)
              for u, t in enumerate([6.0, 5.0, 4.0])]
    got = end_to_end(passes, Ingest)
    assert got["items_per_s"] == pytest.approx(Ingest.ITEMS / 5.0)
    assert got["op_p50_s"] == pytest.approx(5.0)
    # queries: a pass is the sum of its queries; a failed query counts in
    # its pass's time but not in the latency percentiles
    qs = [Sample("a", 1.0, True, "query", 0, False), Sample("b", 3.0, False, "query", 0, False),
          Sample("a", 2.0, True, "query", 1, False), Sample("b", 2.0, True, "query", 1, False)]
    got = end_to_end(qs, Queries)
    assert got["items_per_s"] == pytest.approx(Queries.ITEMS / 4.0)
    assert got["op_p50_s"] == pytest.approx(2.0)
    assert got["op_p90_s"] == pytest.approx(2.0)

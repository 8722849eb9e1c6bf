"""Golden needle CNFs: what ``classify(cond, ctx).needles(ctx)`` derives
for a fixed set of time predicates on five timestamp layouts, with the
listing's mtime bound fixed at 2024-10-12T00:00Z and the UTC margin.

The values pin the deriver's output exactly (group order and needle
order included), so a refactor of the time-layout dispatch shows any
change in what is pushed. The epoch layout lowers EPOCH_MIN_FIELDS to 0
so the cheap 3-field format derives prefix needles.
"""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from duckdb_httpd_log_spark import read_httpd_log
from duckdb_httpd_log_spark.sources import pushdown
from duckdb_httpd_log_spark.sources.pushdown import LineFilterableFrame

LAYOUTS = {
    "combined": dict(format_type="combined"),
    "iso": dict(format_str="%h %{%Y-%m-%d %H:%M:%S}t %>s"),
    "year_only": dict(format_str="%h %{%Y %H:%M:%S}t %>s"),
    "epoch_sec": dict(format_str="%h %{sec}t %>s"),
    "month_name": dict(format_str="%h [%{%d/%b/%Y:%H:%M:%S}t] %>s"),
}


def _preds():
    ts, d, y, st = F.col("timestamp"), F.to_date("timestamp"), F.year("timestamp"), F.col("status")
    return {
        "eq_instant": ts == "2024-10-10 13:55:36",
        "to_date_eq": d == "2024-10-10",
        "between_narrow": ts.between("2024-10-08 00:00:00", "2024-10-11 23:59:59"),
        "between_wide": ts.between("2024-01-01 00:00:00", "2024-03-31 23:59:59"),
        "between_year_edge": ts.between("2023-12-31 00:00:00", "2024-01-01 23:59:59"),
        "since_closed": ts >= "2024-10-09 00:00:00",
        "since_wide": ts >= "2024-06-01 00:00:00",
        "in_small": d.isin("2024-10-08", "2024-10-10"),
        "in_over_cap": d.isin("2024-01-02", "2024-02-07", "2024-03-12", "2024-04-17", "2024-05-22"),
        "year_eq": y == 2024,
        "year_range": (y >= 2023) & (y <= 2024),
        "year_since": y >= 2023,
        "or_mixed": (d == "2024-10-08") | (st == 500),
        "and_status": (ts >= "2024-10-10 00:00:00") & (ts < "2024-10-11 00:00:00") & (st == 404),
    }


HI_US = 1728691200 * 1_000_000  # 2024-10-12T00:00:00Z

GOLDEN = {
    'combined/eq_instant': [['[09/', '[10/', '[11/'], [('ci', '/oct/2024:')]],
    'combined/to_date_eq': [['[09/', '[10/', '[11/'], [('ci', '/oct/2024:')]],
    'combined/between_narrow': [['[07/', '[08/', '[09/', '[10/', '[11/', '[12/'], [('ci', '/oct/2024:')]],
    'combined/between_wide': [['/2022:', '/2023:', '/2024:', '/2025:']],
    'combined/between_year_edge': [['[01/', '[02/', '[30/', '[31/'], [('ci', '/dec/2023:'), ('ci', '/jan/2024:')]],
    'combined/since_closed': [['[08/', '[09/', '[10/', '[11/', '[12/', '[13/'], [('ci', '/oct/2024:')]],
    'combined/since_wide': [['/2023:', '/2024:', '/2025:']],
    'combined/in_small': [['[07/', '[08/', '[09/', '[10/', '[11/'], [('ci', '/oct/2024:')]],
    # the one intended change, pushed nothing before: an Apache to_date
    # IN whose day-token union is over _MAX_DAY_NEEDLES (5 dates x 3 days
    # = 15 tokens) now retries with each literal's year group, as the
    # bounded-range path does for a range too wide for day tokens
    'combined/in_over_cap': [['/2023:', '/2024:', '/2025:']],
    'combined/year_eq': [['/2023:', '/2024:', '/2025:']],
    'combined/year_range': [['/2022:', '/2023:', '/2024:', '/2025:']],
    'combined/year_since': [['/2022:', '/2023:', '/2024:', '/2025:']],
    'combined/or_mixed': [['[07/', '[08/', '[09/', '500'], [('ci', '/oct/2024:'), '500']],
    'combined/and_status': [['404'], ['[09/', '[10/', '[11/', '[12/'], [('ci', '/oct/2024:')]],
    'iso/eq_instant': [['2024-10-09 ', '2024-10-10 ', '2024-10-11 ']],
    'iso/to_date_eq': [['2024-10-09 ', '2024-10-10 ', '2024-10-11 ']],
    'iso/between_narrow': [['2024-10-07 ', '2024-10-08 ', '2024-10-09 ', '2024-10-10 ', '2024-10-11 ', '2024-10-12 ']],
    'iso/between_wide': [['2022', '2023', '2024', '2025']],
    'iso/between_year_edge': [['2023-12-30 ', '2023-12-31 ', '2024-01-01 ', '2024-01-02 ']],
    'iso/since_closed': [['2024-10-08 ', '2024-10-09 ', '2024-10-10 ', '2024-10-11 ', '2024-10-12 ', '2024-10-13 ']],
    'iso/since_wide': [['2023', '2024', '2025']],
    'iso/in_small': [['2024-10-07 ', '2024-10-08 ', '2024-10-09 ', '2024-10-10 ', '2024-10-11 ']],
    'iso/in_over_cap': [['2023', '2024', '2025']],
    'iso/year_eq': [['2023', '2024', '2025']],
    'iso/year_range': [['2022', '2023', '2024', '2025']],
    'iso/year_since': [['2022', '2023', '2024', '2025']],
    'iso/or_mixed': [['2024-10-07 ', '2024-10-08 ', '2024-10-09 ', '500']],
    'iso/and_status': [['404'], ['2024-10-09 ', '2024-10-10 ', '2024-10-11 ', '2024-10-12 ']],
    'year_only/eq_instant': [['2023', '2024', '2025']],
    'year_only/to_date_eq': [['2023', '2024', '2025']],
    'year_only/between_narrow': [['2023', '2024', '2025']],
    'year_only/between_wide': [['2022', '2023', '2024', '2025']],
    'year_only/between_year_edge': [['2022', '2023', '2024', '2025']],
    'year_only/since_closed': [['2023', '2024', '2025']],
    'year_only/since_wide': [['2023', '2024', '2025']],
    'year_only/in_small': [['2023', '2024', '2025']],
    'year_only/in_over_cap': [['2023', '2024', '2025']],
    'year_only/year_eq': [['2023', '2024', '2025']],
    'year_only/year_range': [['2022', '2023', '2024', '2025']],
    'year_only/year_since': [['2022', '2023', '2024', '2025']],
    'year_only/or_mixed': [['2023', '2024', '2025', '500']],
    'year_only/and_status': [['404'], ['2023', '2024', '2025']],
    'epoch_sec/eq_instant': [['17284', '17285', '17286']],
    'epoch_sec/to_date_eq': [['17284', '17285', '17286']],
    'epoch_sec/between_narrow': [['17282', '17283', '17284', '17285', '17286', '17287']],
    'epoch_sec/between_wide': None,
    'epoch_sec/between_year_edge': [['17038', '17039', '17040', '17041', '17042']],
    'epoch_sec/since_closed': [['17283', '17284', '17285', '17286', '17287']],
    'epoch_sec/since_wide': None,
    'epoch_sec/in_small': [['17282', '17283', '17284', '17285', '17286']],
    'epoch_sec/in_over_cap': None,
    'epoch_sec/year_eq': None,
    'epoch_sec/year_range': None,
    'epoch_sec/year_since': None,
    'epoch_sec/or_mixed': [['17282', '17283', '17284', '17285', '500']],
    'epoch_sec/and_status': [['404'], ['17284', '17285', '17286']],
    'month_name/eq_instant': [[('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:')]],
    'month_name/to_date_eq': [[('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:')]],
    'month_name/between_narrow': [[('ci', '07/oct/2024:'), ('ci', '08/oct/2024:'), ('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:'), ('ci', '12/oct/2024:')]],
    'month_name/between_wide': [['2022', '2023', '2024', '2025']],
    'month_name/between_year_edge': [[('ci', '01/jan/2024:'), ('ci', '02/jan/2024:'), ('ci', '30/dec/2023:'), ('ci', '31/dec/2023:')]],
    'month_name/since_closed': [[('ci', '08/oct/2024:'), ('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:'), ('ci', '12/oct/2024:'), ('ci', '13/oct/2024:')]],
    'month_name/since_wide': [['2023', '2024', '2025']],
    'month_name/in_small': [[('ci', '07/oct/2024:'), ('ci', '08/oct/2024:'), ('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:')]],
    'month_name/in_over_cap': [['2023', '2024', '2025']],
    'month_name/year_eq': [['2023', '2024', '2025']],
    'month_name/year_range': [['2022', '2023', '2024', '2025']],
    'month_name/year_since': [['2022', '2023', '2024', '2025']],
    'month_name/or_mixed': [[('ci', '07/oct/2024:'), ('ci', '08/oct/2024:'), ('ci', '09/oct/2024:'), '500']],
    'month_name/and_status': [['404'], [('ci', '09/oct/2024:'), ('ci', '10/oct/2024:'), ('ci', '11/oct/2024:'), ('ci', '12/oct/2024:')]],
}


@pytest.fixture(scope="module")
def derived(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("golden") / "x.log"
    path.write_text("x\n")
    mp = pytest.MonkeyPatch()
    mp.setattr(pushdown, "EPOCH_MIN_FIELDS", 0)
    try:
        layouts, out = {}, {}
        for lname, kw in LAYOUTS.items():
            df = read_httpd_log(spark, str(path), **kw)
            layouts[lname] = df._lf_ctx.ts_cols
            ctx = replace(df._lf_ctx, margin_days=1, hi_us=HI_US)
            for pname, pred in _preds().items():
                cond = df._resolve(pred).condition()
                out[f"{lname}/{pname}"] = pushdown.classify(cond, ctx).needles(ctx)
        return layouts, out
    finally:
        mp.undo()


def test_layout_table(derived):
    layouts, out = derived
    TsLayout = pushdown.TsLayout
    assert layouts["combined"] == {"timestamp": TsLayout("apache")}
    assert layouts["year_only"] == {"timestamp": TsLayout("strftime")}
    assert layouts["epoch_sec"] == {"timestamp": TsLayout("epoch", unit_us=1_000_000)}
    run = layouts["iso"]["timestamp"].run
    assert "".join(t if k == "lit" else "%" + t for k, t in run) == "%Y-%m-%d "
    assert sorted(out) == sorted(GOLDEN)


def test_layout_needs_one_rendering(spark, tmp_path):
    # no layout when the format renders no year ('%%Y' is a literal) or
    # the epoch format is under the gate
    path = tmp_path / "x.log"
    path.write_text("x\n")
    for fmt in ("%h %{%%Y %H}t %>s", "%h %{sec}t %>s"):
        assert read_httpd_log(spark, str(path), format_str=fmt)._lf_ctx.ts_cols == {}, fmt
    # a split date/time group keeps its head's date run: the time field
    # cannot move the date
    ctx = read_httpd_log(spark, str(path), format_str="%h %{%Y-%m-%d}t %{%H:%M:%S}t %>s")._lf_ctx
    assert ctx.ts_cols["timestamp"].run is not None


@pytest.mark.parametrize("fmt", ["%h %{%Y-%m-%d}t %{sec}t %>s", "%h %t %{sec}t %>s"])
def test_group_with_a_second_base_field_has_no_layout(spark, tmp_path, fmt):
    # the epoch field sets the group's value, so the head's date text
    # need not match it: a needle from the head's layout would drop rows
    path = tmp_path / "mixed.log"
    path.write_text(
        "1.1.1.1 2020-01-01 1728518400 200\n"
        "1.1.1.2 [01/Jan/2020:00:00:00 +0000] 1728518400 200\n"
    )
    df = read_httpd_log(spark, str(path), format_str=fmt)
    assert df._lf_ctx.ts_cols == {}
    pred = F.to_date("timestamp") == "2024-10-10"
    naive = super(LineFilterableFrame, df).filter(pred).collect()
    assert len(naive) == 1 and df.filter(pred).collect() == naive


@pytest.mark.parametrize("key", sorted(GOLDEN))
def test_needle_cnf_golden(derived, key):
    assert derived[1][key] == GOLDEN[key]

"""Golden key set of bench.py's static axes: the board's keys and their
order are what round-over-round diffs (tools/bench_diff.py) and the
mover gate (tools/over2x_gate.py) join on. Importing bench runs no
Spark work."""

import bench

BOARD_ORDER = [
    "log_scan_200k_combined",
    "log_scan_16files_800k",
    "log_scan_2m_single_file",
    "log_scan_2m_raw",
    "log_write_2m",
    "log_scan_2m_20pct_junk",
    "log_scan_rotated_since_pushdown",
    "log_scan_rotated_since_naive",
    "log_scan_2m_path_pushdown",
    "log_scan_2m_path_naive",
    "log_scan_2m_date_pushdown",
    "log_scan_2m_date_naive",
    "log_scan_2m_since_pushdown",
    "log_scan_2m_since_naive",
    "log_scan_2m_epoch_pushdown",
    "log_scan_2m_epoch_naive",
    "log_scan_16files_prune_pushdown",
    "log_scan_16files_prune_naive",
    "log_scan_colstats_pushdown",
    "log_scan_colstats_naive",
    "log_scan_2m_isodate_pushdown",
    "log_scan_2m_isodate_naive",
    "log_scan_200k_gz",
    "log_scan_200k_conf",
    "log_scan_200k_autodetect",
]


def test_log_axis_board_order():
    assert bench.axis_keys() == BOARD_ORDER


def test_noise_band_and_calibration_keys():
    assert bench.NOISE_BAND == [
        "kmeans_train", "ann_lsh_topk", "multimodal_resize", "multimodal_features",
        "dedup_semantic_clusters", "probe_trigram_checksum",
        "q11_scalar_funcs", "q18_quantiles",
    ]
    assert list(bench.CALIBRATION) == ["py_sha256_s", "jvm_range_sum_s"]


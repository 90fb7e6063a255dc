"""Board leg with populated table seams (r10 verdict watch-item #3):
the quantized-Vorbis, HE-AAC SBR/PS and High-profile fixture rows are
env-gated off the default board, so the default selfcheck never
decodes them through the Spark mapInPandas path. This test runs
`multimodal_real_decode` in a FRESH subprocess with synthetic Vorbis,
SBR/PS and CAVLC tables injected via the env seams BEFORE the JVM
starts (local-mode Python workers inherit the driver environment at
launch, so setting the vars inside an existing session would not
reach them), and re-verifies every row's features driver-side from
the same payload bytes — the exact protocol of
tools/selfcheck.py::_range_multimodal_decode.

The equivalent manual command (documented for CI):

    SPARK_GRAFT_VORBIS_TABLES=<json> SPARK_GRAFT_SBR_TABLES=<json> \
        SPARK_GRAFT_CAVLC_TABLES=<path> \
        python tools/selfcheck.py multimodal_real
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_DRIVER = r"""
import json, sys
from pyspark.sql import SparkSession

from data_migration_etl_scripts_spark.operators import vorbis
from data_migration_etl_scripts_spark.operators import sbr as _sbr
from data_migration_etl_scripts_spark.operators import multimodal as mm
from data_migration_etl_scripts_spark import queries

assert vorbis.seam_available(), "Vorbis env seam did not load"
assert _sbr.seam_available(), "SBR env seam did not load"

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("board-seam-leg").getOrCreate())
try:
    df = queries.multimodal_real_decode(spark, sys.argv[1])
    rows = df.collect()
finally:
    spark.stop()

fixture = {mid: (mtype, bytes(content))
           for mid, mtype, content, _m in mm.synthetic_real_media_rows(
               24, include_mpeg=True)}
gated = {24 + 33, 24 + 36, 24 + 38, 24 + 40}
assert gated <= set(fixture), sorted(fixture)
assert len(rows) == len(fixture), (len(rows), len(fixture))
seen = set()
for r in rows:
    mtype, payload = fixture[r.media_id]
    assert r.media_type == mtype, r.media_id
    assert r.n_bytes == len(payload), r.media_id
    got = json.loads(r.feature_json)
    want = mm._real_features(payload, 6)
    assert len(got) == len(want), r.media_id
    assert all(abs(g - w) <= max(1e-5, 1e-6 * abs(w))
               for g, w in zip(got, want)), r.media_id
    seen.add(r.media_id)
assert gated <= seen
print("BOARD_SEAM_OK", len(rows))
"""


def _synthetic_sbr_tables() -> dict:
    import math

    win = [math.sin(math.pi * (n + 0.5) / 640) / 64.0
           for n in range(640)]
    seed = 7
    noise = []
    for _ in range(512):
        seed = (seed * 1103515245 + 12345) & 0x7FFFFFFF
        re = seed / 0x40000000 - 1.0
        seed = (seed * 1103515245 + 12345) & 0x7FFFFFFF
        noise.append([re, seed / 0x40000000 - 1.0])
    book = [[0, "0"], [1, "10"], [-1, "110"], [2, "1110"],
            [-2, "11110"], [3, "111110"], [-3, "111111"]]
    names = ("t_env_15", "f_env_15", "t_env_30", "f_env_30",
             "t_env_bal_15", "f_env_bal_15", "t_env_bal_30",
             "f_env_bal_30", "t_noise_30", "t_noise_bal_30")
    ps_book = [[0, "0"], [1, "10"], [-1, "110"], [2, "1110"],
               [-2, "11110"], [4, "111110"], [-4, "1111110"]]
    ps_names = ("iid_f_coarse", "iid_t_coarse", "iid_f_fine",
                "iid_t_fine", "icc_f", "icc_t")
    return {"qmf_window": win, "noise": noise,
            "huff": {n: book for n in names},
            "start_freq_map": {32000: [8] * 16},
            "stop_freq_map": {32000: [16] * 14},
            "invf_bw": [0.0, 0.6, 0.9, 0.98],
            "limiter_gains": [0.70795, 1.0, 1.41254, 1e10],
            "smooth_window": [0.33333, 0.30150, 0.21816, 0.11516,
                              0.03183],
            "ps_huff": {n: ps_book for n in ps_names},
            "ps_iid_quant": {
                "coarse": [-25, -18, -14, -10, -6, -3, -1, 0, 1, 3,
                           6, 10, 14, 18, 25],
                "fine": [float(v) for v in range(-30, 32, 2)][:31]},
            "ps_icc_quant": [1.0, 0.937, 0.84118, 0.60092, 0.36764,
                             0.0, -0.589, -1.0]}


def test_board_runs_with_populated_seams(tmp_path):
    """The 63-row board (59 default + quantized-Vorbis n+33 + HE-AAC
    SBR n+36 + High-profile i8 n+38 + HE-AAC v2 PS n+40) decodes end
    to end through Spark with synthetic seam tables injected via the
    env vars, and every row's features match the driver-side
    recompute."""
    env = dict(os.environ)
    # the CAVLC loader takes a PATH (not inline JSON): stage the
    # synthetic Table 9-4 bijection in a temp file for the workers
    cavlc_path = str(tmp_path / "cavlc.json")
    with open(cavlc_path, "w") as fh:
        json.dump({"cbp_intra": [[i, i] for i in range(48)]}, fh)
    env["SPARK_GRAFT_CAVLC_TABLES"] = cavlc_path
    env["SPARK_GRAFT_VORBIS_TABLES"] = json.dumps(
        {"floor1_inverse_db": [(i / 255.0) ** 2 for i in range(256)]})
    env["SPARK_GRAFT_SBR_TABLES"] = json.dumps(
        _synthetic_sbr_tables())
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER, sf],
        env=env, capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert "BOARD_SEAM_OK" in out.stdout, (
        out.stdout[-2000:], out.stderr[-4000:])

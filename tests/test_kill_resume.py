"""North_rule resumability, demonstrated with a real kill: a separate
driver process runs the block-superstep PPR with per-superstep
checkpoints, is SIGKILLed mid-iteration, and a fresh run with
``resume=True`` continues from the last durable checkpoint to the same
converged scores as an uninterrupted run."""

import os
import signal
import subprocess
import sys
import time

import numpy as np
import pytest

from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import ppr_from_blocks, prepare_csr_blocks

N = 400

RUNNER = """
import sys
import numpy as np
from hipporag_spark.session import get_spark
from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import ppr_from_blocks

blocks, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark("kill-victim", cores=2, shuffle_partitions=4)
reset = np.zeros({n})
reset[:5] = 1.0
# tol=0: runs until max_iter or the kill, checkpointing every superstep
ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=0.0, max_iter=500,
                store=CheckpointStore(ckpt), supersteps_per_job=1)
"""


def test_sigkill_mid_iteration_then_resume(spark, tmp_path):
    rng = np.random.default_rng(7)
    import pandas as pd

    pdf = pd.DataFrame({
        "src": rng.integers(0, N, 2500),
        "dst": rng.integers(0, N, 2500),
        "weight": np.ones(2500),
    })
    edges = spark.createDataFrame(pdf)
    blocks = str(tmp_path / "blocks_kill")
    prepare_csr_blocks(spark, edges, blocks, n_blocks=4, int_ids=N,
                       unit_weights=True)
    reset = np.zeros(N)
    reset[:5] = 1.0

    # uninterrupted ground truth (same tol/damping as the resumed run)
    full = ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=1e-11,
                           max_iter=300)
    fv = full.ranks.toPandas().sort_values("node_id")["score"].to_numpy()

    # victim process: checkpoints every superstep until killed
    ckpt = str(tmp_path / "ckpt_kill")
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    proc = subprocess.Popen(
        [sys.executable, "-c", RUNNER.format(n=N), blocks, ckpt],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    store = CheckpointStore(ckpt)
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            latest = store.latest_step()
            if latest is not None and latest >= 3:
                break
            if proc.poll() is not None:
                raise AssertionError("victim exited before reaching step 3")
            time.sleep(0.25)
        else:
            raise AssertionError("victim never reached superstep 3")
        proc.send_signal(signal.SIGKILL)  # hard kill mid-iteration
    finally:
        proc.wait(timeout=60)

    killed_at = store.latest_step()
    assert killed_at is not None and killed_at >= 3

    # resume in THIS process from the durable checkpoint
    resumed = ppr_from_blocks(spark, blocks, reset, damping=0.85, tol=1e-11,
                              max_iter=300, store=store, resume=True)
    assert resumed.metrics[0]["superstep"] == killed_at + 1
    rv = resumed.ranks.toPandas().sort_values("node_id")["score"].to_numpy()
    assert np.allclose(fv, rv, atol=1e-9)

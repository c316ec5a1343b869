"""One short traced run of each workload at sf0.001, in a fresh process
each (a run owns its JVM, environment and working directory)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
SCRIPT = """
import json, sys
sys.path.insert(0, {bench!r})
import run
spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
print(json.dumps(run.run({workload!r}, 7, 0, True, spec, sf="sf0.001", passes=2)))
"""

# layers each workload must reach, so a wrapper that stops matching
# (a renamed entry point, a moved import) fails here
REACHED = {
    "interactive": ["operators.frequent.calls", "operators.skyline.calls", "operators.evaluate.calls",
                    "operators.textstats.calls", "operators.window.calls", "operators.stats.calls",
                    "functions.astro.calls", "expr.translate.calls", "table.self_s", "build.jobs",
                    "sources.fits_native.bytes_written", "sources.hdf5_native.bytes_written",
                    "sources.votable_native.bytes_written"],
    "corpus": ["operators.dedup.calls", "operators.corpus.calls", "operators.ann_index.calls",
               "operators.bpe.calls", "exec.shuffle_write_bytes", "exec.pyworker_cpu_s", "cache.tracked"],
}


@pytest.mark.parametrize("workload", sorted(REACHED))
def test_smoke_run(workload):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(bench=str(BENCH), workload=workload)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    for name in REACHED[workload]:
        assert metrics[name]["value"] > 0, name
    assert metrics["exec.jobs"]["value"] > 0 and metrics["exec.s"]["value"] > 0
    assert metrics["trace.overhead"]["value"] > 0

"""Two-cluster-size scaling evidence (north rule: efficiency ≥ 0.8
from N to 4N).

No real cluster exists in the sandbox, so the same job runs at two
parallelism levels on the same input, each in a fresh JVM
(BENCH/run_extraction.py) — the sandbox proxy for spark-submit at N
and 4N executors.

Level choice: this VM advertises 32 vCPUs but pure-process CPU scaling
saturates near ~20 effective cores (SMT + hypervisor steal): 8→32
processes yields only ~2.6× even for embarrassingly parallel plain
Python. The honest N-vs-4N window is therefore local[2] vs local[8],
where the hardware itself is near-linear. The script *measures* that
hardware ceiling with a pure-CPU probe at both levels and reports
engine efficiency alongside it, so the number is interpretable: engine
efficiency ≈ ceiling means the pipeline adds no serialization of its
own.

Usage: python BENCH/scaling.py [sf_dir] [replicate] [N] [4N]
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from datetime import date
from pathlib import Path

HERE = Path(__file__).parent

BURN = (
    "import time\n"
    "t0=time.perf_counter()\n"
    "n=0\n"
    "while time.perf_counter()-t0<6:\n"
    "    for _ in range(10000): n+=1\n"
    "print(n)\n"
)


def cpu_ceiling(k: int) -> float:
    """Aggregate pure-Python ops/sec across k processes — what the
    hardware gives k independent workers, Spark removed entirely."""
    t0 = time.perf_counter()
    ps = [
        subprocess.Popen([sys.executable, "-c", BURN], stdout=subprocess.PIPE)
        for _ in range(k)
    ]
    total = sum(int(p.communicate()[0]) for p in ps)
    return total / (time.perf_counter() - t0)


KERNEL_BURN = """
import sys, time
sys.path.insert(0, {repo!r})
import pyarrow.parquet as pq
from pdf_parser_spark.pdfgen import text_to_pdf
from pdf_parser_spark.pdfcore import extract_pdf
texts = pq.read_table({docs!r}, columns=["text"]).column("text").to_pylist()[:200]
pdfs = [text_to_pdf(t or "") for t in texts]
for p in pdfs[:20]:
    extract_pdf(p)
t0 = time.perf_counter()
n = 0
while time.perf_counter() - t0 < 8:
    for p in pdfs:
        extract_pdf(p)
        n += 1
print(n)
"""


def kernel_ceiling(k: int, sf_dir: str) -> float:
    """Aggregate extraction docs/sec across k INDEPENDENT processes
    running the actual PDF parse kernel (no Spark, no IPC) over the
    same payload sample. This is the hardware ceiling for THIS
    workload: the kernel is regex over DRAM-resident payload bytes, so
    k processes share memory bandwidth in a way the cache-resident
    BURN loop never sees — BURN routinely reads ~4x from 2 to 8
    processes while the parse kernel tops out lower. Engine efficiency
    should be judged against the workload's own ceiling."""
    script = KERNEL_BURN.format(
        repo=str(HERE.parent), docs=f"{sf_dir}/documents.parquet"
    )
    ps = [
        subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE)
        for _ in range(k)
    ]
    # each child times its own fixed 8s extraction window (setup --
    # imports, payload generation -- excluded), so the aggregate rate
    # is sum(docs)/8 regardless of process start stagger.
    total = sum(int(p.communicate()[0]) for p in ps)
    return total / 8.0


def run(cores: int, sf_dir: str, replicate: int, launcher: str = "proc") -> dict:
    """One extraction run at local[cores] in a fresh JVM.

    launcher="proc": python subprocess (fast startup).
    launcher="submit": the real thing — tools/spark_submit.sh zips the
    package and launches via spark-submit --py-files (north rule's
    launch mode, literally)."""
    if launcher == "submit":
        cmd = [
            "bash", str(HERE.parent / "tools" / "spark_submit.sh"),
            str(cores), sf_dir, str(replicate),
        ]
    else:
        cmd = [
            sys.executable, str(HERE / "run_extraction.py"), str(cores),
            sf_dir, str(replicate),
        ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    d = json.loads(line)
    if "docs_per_sec" not in d:  # spark-submit JSON uses "value"
        d["docs_per_sec"] = d["value"]
    return d


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    n_low = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_high = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    launcher = sys.argv[5] if len(sys.argv) > 5 else "proc"

    ceil_low = cpu_ceiling(n_low)
    ceil_high = cpu_ceiling(n_high)
    hw_ratio = ceil_high / ceil_low
    k_low = kernel_ceiling(n_low, sf_dir)
    k_high = kernel_ceiling(n_high, sf_dir)
    kernel_ratio = k_high / k_low

    low = run(n_low, sf_dir, replicate, launcher)
    high = run(n_high, sf_dir, replicate, launcher)
    speedup = low["wall_sec"] / high["wall_sec"]
    factor = n_high / n_low
    eff = speedup / factor
    eff_vs_hw = speedup / hw_ratio
    eff_vs_kernel = speedup / kernel_ratio

    md = f"""# Scaling evidence (N vs 4N parallelism)

Date: {date.today().isoformat()} · input: `{sf_dir}` × replicate {replicate}
({high['n_docs']} docs) · same job, same input, fresh JVM per level ·
launcher: {"REAL spark-submit --py-files (tools/spark_submit.sh)"
           if launcher == "submit"
           else "python subprocess (sandbox proxy for spark-submit)"}
at N and 4N executors — north rule.

| parallelism | docs | wall (s) | docs/sec |
|---|---|---|---|
| local[{n_low}]  (N)  | {low['n_docs']} | {low['wall_sec']} | {low['docs_per_sec']} |
| local[{n_high}] (4N) | {high['n_docs']} | {high['wall_sec']} | {high['docs_per_sec']} |

- speedup N→4N: **{speedup:.2f}×** (ideal {factor:.0f}×)
- scaling efficiency: **{eff:.2f}** (target ≥ 0.8)
- hardware ceiling, generic CPU probe (cache-resident pure-Python
  loop, k independent processes, no Spark): {hw_ratio:.2f}× →
  engine efficiency vs that ceiling: **{eff_vs_hw:.2f}**
- hardware ceiling, WORKLOAD probe (the actual PDF parse kernel over
  payload bytes in k independent processes, no Spark/IPC — regex over
  DRAM shares memory bandwidth, which the cache-resident loop never
  sees): {k_low:.0f} → {k_high:.0f} docs/s = {kernel_ratio:.2f}× →
  engine efficiency vs the workload's own ceiling: **{eff_vs_kernel:.2f}**

Level choice: this VM's 32 vCPUs saturate near ~20 effective cores
(SMT + hypervisor steal — 8→32 pure-Python processes reach only
~2.6×), so N=2 vs 4N=8 is the window where the hardware itself is
near-linear and the engine's own scaling is measurable.

Method: corpus synthesized once and materialized to parquet before
timing; the timed section is the salted mapInArrow extraction pipeline
ending in a noop sink (no driver collect). Parallelism enters only via
`local[k]`, shuffle partitions = 2k, and extraction task count = 8k
(8 task waves per core slot — salt-bucket sizes vary, so fine tasks
absorb stragglers).
"""
    # preserve the manually-curated run-history section across rewrites
    out_path = HERE / "BASELINE.md"
    history = ""
    if out_path.exists():
        prev = out_path.read_text()
        idx = prev.find("## Run history")
        if idx != -1:
            history = "\n" + prev[idx:]
    out_path.write_text(md + history)
    print(md)
    print(json.dumps({
        "low": low, "high": high, "efficiency": round(eff, 3),
        "hw_ratio": round(hw_ratio, 3), "eff_vs_hw": round(eff_vs_hw, 3),
        "kernel_docs_per_sec": [round(k_low, 1), round(k_high, 1)],
        "kernel_ratio": round(kernel_ratio, 3),
        "eff_vs_kernel": round(eff_vs_kernel, 3),
    }))


if __name__ == "__main__":
    main()

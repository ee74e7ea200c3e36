"""Live kill -9 probes for the STREAMING ingest itself (VERDICT r5 #7;
the batch-path kill probes live in tools/pipeline_bench.py --kill).

Two scenarios, each against a real `run_pipeline.py --stream` child
process over a multi-file input (maxFilesPerTrigger=8 -> multiple
micro-batches):

A) SIGKILL mid-BOOTSTRAP foreachBatch: poll for the mentions manifest
   and kill the driver before the candidates commit / identity sidecar.
   Restarting from the SAME checkpoint must redeliver micro-batch 0
   (its offset never committed), self-heal via the bootstrap dispatch
   (mentions resumed under the identity guard, candidates + sidecar
   rebuilt), drain the remaining batches append-only, and a finalize
   run must match a from-scratch warehouse bit-for-bit.

B) SIGKILL mid-APPEND foreachBatch: wait for the bootstrap to commit,
   then poll for the _PENDING_APPEND.json marker of a later batch and
   kill inside the marker window. The restarted stream must REFUSE with
   the TORN APPEND recovery text (the designed behavior: appended data
   files may not match the manifest), and following that text's
   recovery path (drop the affected stage dirs + marker, re-ingest)
   must converge to the same from-scratch triples.

The pytest twin (simulated mid-batch fault, same cut point as A) is
tests/test_streaming.py::test_stream_mid_batch_abort_restart_self_heals.
Results are recorded in BENCH.md.

Usage: python tools/stream_kill_probe.py [n_docs] [n_files]
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spawn_stream(inp: str, out: str, run_id: str):
    """Child logs go to files, not pipes: an undrained pipe fills and
    blocks the child's Spark logging before the kill window opens."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    log = open(os.path.join(os.path.dirname(out), f"{run_id}.log"), "w")
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "run_pipeline.py"),
            "--stream",
            "--input",
            inp,
            "--output",
            out,
            "--run-id",
            run_id,
        ],
        cwd=REPO,
        env=env,
        stdout=log,
        stderr=subprocess.STDOUT,
    )
    proc._log_path = log.name  # type: ignore[attr-defined]
    return proc


def _log_of(proc) -> str:
    with open(proc._log_path, encoding="utf-8", errors="replace") as fh:
        return fh.read()


def _wait_stream(proc, label: str, timeout_s: float = 900.0) -> str:
    proc.wait(timeout=timeout_s)
    text = _log_of(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"{label}: stream failed\n{text[-3000:]}")
    return text


def _run(args: list[str], check: bool = True):
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "run_pipeline.py"), *args],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    if check and p.returncode != 0:
        raise RuntimeError(f"run_pipeline {args} failed:\n{p.stderr[-3000:]}")
    return p


def _poll_kill(proc, trigger, label: str, timeout_s: float = 600.0) -> float:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if proc.poll() is not None:
            raise RuntimeError(
                f"{label}: stream exited (rc={proc.returncode}) before the "
                f"kill window\n{_log_of(proc)[-2000:]}"
            )
        if trigger():
            proc.send_signal(signal.SIGKILL)
            proc.wait()
            return round(time.time() - t0, 3)
        time.sleep(0.005)
    proc.kill()
    raise RuntimeError(f"{label}: kill window never opened in {timeout_s}s")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 900
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 18

    from structured_data_entity_extraction_spark.fixtures import repos_src_rows
    from structured_data_entity_extraction_spark.schemas import REPOS_SRC
    from structured_data_entity_extraction_spark.session import get_spark

    base = "/tmp/stream_kill_probe"
    shutil.rmtree(base, ignore_errors=True)
    inp = os.path.join(base, "in")

    spark = get_spark("stream-kill-probe", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = repos_src_rows(n_docs, seed=64)
    per = max(1, n_docs // n_files)
    for i in range(0, n_docs, per):
        chunk = rows[i : i + per]
        spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in chunk],
            REPOS_SRC,
        ).coalesce(1).write.mode("append").parquet(inp)
    report: dict = {"n_docs": n_docs, "n_files": n_files}

    # ---------------- from-scratch reference warehouse (batch path)
    wh_ref = os.path.join(base, "wh_scratch")
    _run(["--input", inp, "--output", wh_ref, "--run-id", "scratch"])

    from structured_data_entity_extraction_spark.materialize import StageStore

    def triples_sorted(root: str):
        df = StageStore(root).read(spark, "triples")
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    want = triples_sorted(wh_ref)

    # ---------------- scenario A: kill mid-bootstrap
    whA = os.path.join(base, "whA")
    pA = _spawn_stream(inp, whA, "kA")
    t_kill = _poll_kill(
        pA,
        lambda: os.path.exists(os.path.join(whA, "mentions", "_MANIFEST.json")),
        "A",
    )
    stA = StageStore(whA)
    report["A"] = {
        "killed_after_s": t_kill,
        "at_kill": {
            "mentions": stA.is_complete("mentions"),
            "candidates": stA.is_complete("candidates"),
            "sidecar": stA.is_complete("_input_pairs"),
        },
    }
    # restart from the same checkpoint: batch 0 redelivered, self-heals
    pA2 = _spawn_stream(inp, whA, "kA2")
    outA = _wait_stream(pA2, "A-restart")
    finA = _run(["--input", inp, "--output", whA, "--run-id", "finA"])
    mA = json.loads(finA.stdout.strip().splitlines()[-1])
    report["A"]["restart_drained"] = json.loads(
        [l for l in outA.splitlines() if l.startswith('{"mode": "stream"')][-1]
    )["stages"]
    report["A"]["finalize_resumed"] = {
        s: mA["stages"][s]["resumed"] for s in ("mentions", "candidates")
    }
    report["A"]["triples_match_scratch"] = triples_sorted(whA) == want

    # ---------------- scenario B: kill mid-append (torn-append window)
    whB = os.path.join(base, "whB")
    pB = _spawn_stream(inp, whB, "kB")
    marker = os.path.join(whB, "_PENDING_APPEND.json")

    def append_window() -> bool:
        # only an append batch holds the marker (listing the appended
        # stages); the bootstrap commits its three stages, the
        # _input_pairs sidecar included, by their manifests alone
        if not os.path.exists(marker):
            return False
        try:
            with open(marker, encoding="utf-8") as fh:
                return "mentions" in json.load(fh).get("stages", [])
        except (OSError, ValueError):
            return False  # marker mid-write: retry next poll

    t_killB = _poll_kill(pB, append_window, "B")
    report["B"] = {"killed_after_s": t_killB, "marker_present": os.path.exists(marker)}
    # restart: the designed behavior is REFUSAL with the recovery text
    pB2 = _spawn_stream(inp, whB, "kB2")
    pB2.wait(timeout=900)
    errB = _log_of(pB2)
    report["B"]["restart_refused"] = pB2.returncode != 0 and "TORN APPEND" in errB
    # recovery per the error text: drop the affected stage dirs + marker
    # and re-ingest into the cleaned warehouse (fresh checkpoint -- the
    # old offset log describes batches the warehouse no longer holds)
    with open(marker, encoding="utf-8") as fh:
        torn_stages = json.load(fh)["stages"]
    report["B"]["torn_stages"] = torn_stages
    for st in set(torn_stages) | {"mentions", "candidates", "_input_pairs"}:
        shutil.rmtree(os.path.join(whB, st), ignore_errors=True)
    os.remove(marker)
    shutil.rmtree(os.path.join(whB, "_stream_ckpt"), ignore_errors=True)
    pB3 = _spawn_stream(inp, whB, "kB3")
    _wait_stream(pB3, "B-recovery")
    _run(["--input", inp, "--output", whB, "--run-id", "finB"])
    report["B"]["triples_match_scratch"] = triples_sorted(whB) == want

    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()

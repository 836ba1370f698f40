import glob
import os
import re
import subprocess
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# First-party parallel suite runner (r11, VERDICT r10 #2: the suite outgrew
# the verification window; pytest-xdist is unavailable in this sandbox, so
# this is the minimal file-sharded equivalent, original code).
#
# A bare whole-suite invocation (`pytest tests/ -x -q` and flag variants)
# is split into N worker pytest processes, each owning complete test FILES
# (module-scoped fixtures stay intact), each with its own SparkSession and
# --basetemp. Everything else -- a single file, -k, -m, --collect-only, a
# worker's own invocation, LS_SUITE_SERIAL=1 -- runs serially as before, so
# the sharding can never change which tests exist or what they assert; it
# only changes which OS process runs them. Worker outputs are printed in
# full as each worker finishes (the tail of every worker, including its
# summary line, stays visible), followed by one combined summary; the exit
# code is the worst worker exit code, and with -x the first failing worker
# terminates the rest.
# ---------------------------------------------------------------------------

# Balance hints only (measured module seconds, r11): a stale weight makes a
# shard slower, never wrong. Files absent here weigh by test count.
_WEIGHT_HINTS = {
    "test_collection.py": 310, "test_operators.py": 250,
    "test_pipeline.py": 200, "test_streaming.py": 160,
    "test_warc.py": 90, "test_cli.py": 70, "test_bytebpe.py": 65,
    "test_tokenizer_unigram.py": 60, "test_tokenizer.py": 50,
    "test_api.py": 45, "test_hamming_maxsim.py": 45, "test_pq.py": 40,
    "test_stateful_streaming.py": 35, "test_rotated_contract.py": 35,
    "test_pca.py": 20, "test_mining.py": 25,
}


def _suite_shards(files: list[str], n: int) -> list[list[str]]:
    def weight(f):
        base = os.path.basename(f)
        if base in _WEIGHT_HINTS:
            return _WEIGHT_HINTS[base]
        try:
            return max(1, open(f).read().count("def test_"))
        except OSError:
            return 1
    buckets: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=weight, reverse=True):
        w, members = min(buckets, key=lambda b: b[0])
        buckets[buckets.index((w, members))] = (w + weight(f), members + [f])
    return [members for _, members in buckets if members]


def _passthrough_flags(invocation_args, suite_args) -> list[str]:
    """The invocation's arguments minus the suite path(s) being
    re-sharded. Raw strings are compared on purpose: ``os.path.abspath``
    maps ``""`` to the cwd, so a path comparison also dropped the empty
    value of ``-m ""`` and handed every worker a bare ``-m``."""
    return [a for a in invocation_args if a not in suite_args]


def _worker_driver_memory(workers: int, total_bytes: int) -> str:
    """Spark driver heap per worker: half the machine's memory split
    across the workers, capped at get_spark's 8g default. Every worker
    is a local-mode JVM, so N workers at 8g each oversubscribe a small
    host and the kernel OOM-kills one worker's JVM mid-suite."""
    mb = total_bytes // 2 // workers // 2**20
    return f"{min(8192, max(1024, mb))}m"


def pytest_cmdline_main(config):
    if os.environ.get("LS_SUITE_WORKER") or os.environ.get("LS_SUITE_SERIAL"):
        return None
    opt = config.option
    if (
        getattr(opt, "collectonly", False)
        or getattr(opt, "keyword", "")
        or getattr(opt, "markexpr", "") not in ("", "not deep")
        or getattr(opt, "numprocesses", None)  # a real xdist showed up
        # --lf/--ff/--sw read the test cache, which workers run without
        # (-p no:cacheprovider): honour them serially instead
        or getattr(opt, "lf", False)
        or getattr(opt, "failedfirst", False)
        or getattr(opt, "stepwise", False)
        or getattr(opt, "stepwise_skip", False)
    ):
        return None
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    args = [os.path.abspath(a) for a in config.args]
    if args not in ([tests_dir], [os.path.dirname(tests_dir)]):
        return None
    workers = int(os.environ.get("LS_SUITE_WORKERS", "4"))
    if workers <= 1:
        return None
    files = sorted(glob.glob(os.path.join(tests_dir, "test_*.py")))
    if len(files) < 2:
        return None
    shards = _suite_shards(files, workers)

    # pass the original flags through (minus the suite path we re-shard)
    flags = _passthrough_flags(config.invocation_params.args, config.args)
    base_tmp = tempfile.mkdtemp(prefix="ls_suite_")
    env = dict(os.environ, LS_SUITE_WORKER="1")
    env.setdefault(
        "SPARK_DRIVER_MEMORY",
        _worker_driver_memory(
            len(shards), os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ),
    )
    t0 = time.time()
    print(
        f"[suite-shard] {len(files)} files -> {len(shards)} workers "
        f"(serial: LS_SUITE_SERIAL=1)", flush=True,
    )
    procs = []
    logs = []
    for i, shard in enumerate(shards):
        cmd = (
            [sys.executable, "-m", "pytest", *shard, *flags,
             "-p", "no:cacheprovider", "--basetemp",
             os.path.join(base_tmp, f"w{i}")]
        )
        # stdout to a file, not a pipe: a worker that fills a 64 KiB
        # pipe before exiting would deadlock against this poll loop
        log_path = os.path.join(base_tmp, f"w{i}.log")
        logs.append(log_path)
        log_f = open(log_path, "w")
        procs.append(
            subprocess.Popen(
                cmd, stdout=log_f, stderr=subprocess.STDOUT, env=env,
            )
        )
        log_f.close()
    totals = {"passed": 0, "failed": 0, "error": 0, "skipped": 0,
              "deselected": 0}

    def _drain(i: int) -> None:
        # print a finished worker's full output IMMEDIATELY, so a
        # harness that times the suite out mid-run still sees every
        # completed worker's dots and summary in the partial output
        try:
            out = open(logs[i]).read()
        except OSError:
            out = ""
        print(f"----- worker {i} ({len(shards[i])} files) -----", flush=True)
        sys.stdout.write(out)
        sys.stdout.flush()
        for n, kind in re.findall(
            r"(\d+) (passed|failed|error|skipped|deselected)", out
        ):
            totals[kind] += int(n)

    failed_fast = False
    drained: set[int] = set()
    try:
        pending = set(range(len(procs)))
        while pending:
            for i in list(pending):
                rc = procs[i].poll()
                if rc is None:
                    continue
                pending.discard(i)
                _drain(i)
                drained.add(i)
                if rc != 0 and getattr(opt, "exitfirst", False):
                    failed_fast = True
                    for j in pending:
                        procs[j].terminate()
            time.sleep(0.3)
    except KeyboardInterrupt:
        for p in procs:
            p.terminate()
        raise
    finally:
        for p in procs:
            if p.poll() is None:
                p.wait()
        for i in range(len(procs)):
            if i not in drained:
                _drain(i)
                drained.add(i)
    rc = max((p.returncode or 0) for p in procs)
    print(
        f"===== suite-shard combined: {totals['passed']} passed, "
        f"{totals['failed']} failed, {totals['error']} errors, "
        f"{totals['deselected']} deselected in {time.time() - t0:.1f}s "
        f"across {len(procs)} workers (exit {rc}"
        + (", stopped early on first failure" if failed_fast else "")
        + ") =====",
        flush=True,
    )
    return rc


@pytest.fixture(scope="session")
def spark():
    from letsearch_spark.session import get_spark

    # Env knobs (default = the long-standing values) so suite-latency
    # experiments can A/B the session shape without editing this file.
    cores = os.environ.get("SPARK_GRAFT_TEST_CORES", "4")
    shuffle = int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8"))
    extra = {}
    aqe = os.environ.get("SPARK_GRAFT_TEST_AQE")
    if aqe is not None:
        extra["spark.sql.adaptive.enabled"] = aqe
    s = get_spark(
        "letsearch-spark-tests",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle,
        extra_conf=extra,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

"""The first-party suite shard runner in conftest.py: which arguments
reach the workers, and which invocations stay serial."""

import subprocess
import tempfile
import types

import pytest

import conftest


def test_passthrough_flags_keeps_empty_marker_value():
    # `pytest tests/ -m ""`: the empty marker expression must reach the
    # workers intact (a bare `-m` is a usage error)
    args = ("tests/", "-m", "", "-q", "-p", "no:cacheprovider")
    assert conftest._passthrough_flags(args, ["tests/"]) == [
        "-m", "", "-q", "-p", "no:cacheprovider",
    ]


def test_passthrough_flags_drops_only_the_suite_paths():
    assert conftest._passthrough_flags(("./tests", "-x"), ["./tests"]) == ["-x"]
    # no path given: pytest fills config.args from the rootdir
    assert conftest._passthrough_flags(("-q",), ["/repo"]) == ["-q"]


def _config(**option):
    opt = dict(collectonly=False, keyword="", markexpr="not deep")
    opt.update(option)
    tests_dir = conftest.os.path.dirname(conftest.__file__)
    return types.SimpleNamespace(
        option=types.SimpleNamespace(**opt),
        args=[tests_dir],
        invocation_params=types.SimpleNamespace(args=(tests_dir,)),
    )


def test_cache_flags_run_serially(monkeypatch, tmp_path):
    """--lf / --ff / --sw / --sw-skip read the test cache, which the
    workers run without, so the runner leaves those invocations to
    plain serial pytest (returns None) instead of sharding them."""
    monkeypatch.delenv("LS_SUITE_WORKER", raising=False)
    monkeypatch.delenv("LS_SUITE_SERIAL", raising=False)

    def no_workers(*a, **k):
        raise AssertionError("the runner tried to start workers")

    monkeypatch.setattr(subprocess, "Popen", no_workers)
    monkeypatch.setattr(tempfile, "mkdtemp", lambda **k: str(tmp_path))
    monkeypatch.setenv("LS_SUITE_WORKERS", "2")
    # control: the same invocation without a cache flag is sharded
    with pytest.raises(AssertionError, match="start workers"):
        conftest.pytest_cmdline_main(_config())
    for flag in ("lf", "failedfirst", "stepwise", "stepwise_skip"):
        assert conftest.pytest_cmdline_main(_config(**{flag: True})) is None


def test_worker_driver_memory_fits_the_host():
    gib = 2**30
    # 4 workers on a 16 GiB host: 2 GiB heaps, half the memory in all
    assert conftest._worker_driver_memory(4, 16 * gib) == "2048m"
    # a big host keeps get_spark's 8g default; a tiny one gets 1g
    assert conftest._worker_driver_memory(4, 256 * gib) == "8192m"
    assert conftest._worker_driver_memory(4, 2 * gib) == "1024m"

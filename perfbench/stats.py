"""Metric arithmetic shared by run.py and the benchmark's tests."""

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def count_failures(ops, check_ok):
    """(attempted, failed): an operation fails when it raised or when
    its output check did not pass."""
    attempted = len(ops)
    failed = sum(1 for op, ok in zip(ops, check_ok) if not (op["ok"] and ok))
    return attempted, failed


def end_to_end(result, check_ok):
    """The end-to-end metrics of one untraced run."""
    ops = result["ops"]
    attempted, failed = count_failures(ops, check_ok)
    good = [op["ms"] for op, ok in zip(ops, check_ok) if op["ok"] and ok]
    lat = good or [op["ms"] for op in ops]
    metrics = {
        "setup_s": (result["session_s"] + result["cold_op_s"]
                    + statistics.median(result["setup_reps_s"]), "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
        "ok_frac": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
    }
    return metrics, attempted, failed

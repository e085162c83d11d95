#!/usr/bin/env python3
"""Differential check of graft's epoch->Oslo converters against the
REFERENCE'S OWN int_ms_to_date / _adjust_timezone (extracted verbatim from
/root/reference/src/transform.py; pytz semantics and all), with mismatch
classification by distance to the nearest Europe/Oslo zone transition.

Reads `epochMs<TAB>yyyy-MM-dd HH:mm:ss.SSS` lines (from
`Test/runMain graft.EpochOsloFuzz`) on stdin.

Expected picture (the DOCUMENTED divergence): graft converts the INSTANT
via the tz database; the reference adds pytz's offset looked up AT THE
NAIVE UTC WALL TIME, which lags the instant's true offset for 1-2 h after
each transition. So mismatches must land exclusively in (0, 2h] after a
transition instant; a single mismatch elsewhere is a real bug. Exit 0 iff
all mismatches are inside the documented window.
"""
import os
import sys
import typing
from datetime import datetime, timezone

import pytz

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from refextract import extract_function  # noqa: E402 - single-block cut + pinned sha256

ns = {"datetime": datetime, "timezone": timezone, "pytz": pytz,
      "Optional": typing.Optional, "Union": typing.Union, "Text": typing.Text}
for fn, pin in (
        ("_adjust_timezone", "899c1afe164118f8f2483350faeba857fa53f997af95a0f9e4206d07960bc41a"),
        ("int_s_to_date", "791ddc1e3f0568ef8c40f6c7baf2fd12382a5218f25af06a6c9623746f9f8478"),
        ("int_ms_to_date", "952e7cd5d3709566ba01fafe0d59f5b199608ff712db25ebc9ace2658e68489b")):
    block = extract_function("/root/reference/src/transform.py", fn, pin)
    exec(block, ns)  # noqa: S102 - dev-time oracle, hash-pinned at review time
int_ms_to_date = ns["int_ms_to_date"]

# Transition instants 1960-2030 for classification.
tz = pytz.timezone("Europe/Oslo")
transitions = [t.timestamp() * 1000 for t in tz._utc_transition_times  # type: ignore[attr-defined]
               if 1960 <= t.year <= 2030]

def dist_after_transition(ms):
    best = None
    for t in transitions:
        if ms >= t:
            d = ms - t
            if best is None or d < best:
                best = d
    return best

ok = in_window = bad = 0
examples = []
for line in sys.stdin:
    line = line.rstrip("\n")
    if not line:
        continue
    ms_s, graft = line.split("\t")
    ms = int(ms_s)
    ref_dt = int_ms_to_date(ms)
    ref = ref_dt.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    if ref == graft:
        ok += 1
    else:
        d = dist_after_transition(ms)
        if d is not None and d <= 2 * 3600 * 1000:
            in_window += 1
            if len(examples) < 3:
                examples.append(("window", ms, graft, ref, d))
        else:
            bad += 1
            if len(examples) < 10:
                examples.append(("BAD", ms, graft, ref, d))

print(f"ok={ok} documented_window_mismatches={in_window} out_of_window_mismatches={bad}")
for kind, ms, graft, ref, d in examples:
    print(f"--- {kind} ms={ms} graft={graft!r} ref={ref!r} msAfterTransition={d}")
sys.exit(0 if bad == 0 else 1)

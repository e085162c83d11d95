#!/usr/bin/env python3
"""Differential check of graft's StrCode against the REFERENCE'S OWN
str_to_code, extracted verbatim from /root/reference/src/transform.py and
executed as a test oracle (the module itself imports dateparser, absent
here, so only the self-contained function block is exec'd).

Reads `base64(input)<TAB>base64(output)` lines (from
`Test/runMain graft.StrCodeFuzz`) on stdin; exit 0 iff zero mismatches.
"""
import base64
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from refextract import extract_function  # noqa: E402 - single-block cut + pinned sha256

block = extract_function(
    "/root/reference/src/transform.py", "str_to_code",
    "369de7057fe3d97e0e53dac8a5251052680b38e0c819f73641452783bedd60c1")
# The function's annotations reference typing names; provide them.
import typing  # noqa: E402
ns = {"Optional": typing.Optional, "Text": typing.Text}
exec(block, ns)  # noqa: S102 - dev-time oracle, hash-pinned at review time
str_to_code = ns["str_to_code"]

ok = mism = 0
examples = []
for lineno, line in enumerate(sys.stdin, 1):
    line = line.rstrip("\n")
    if not line:
        continue
    inp_b64, out_b64 = line.split("\t")
    inp = base64.b64decode(inp_b64).decode("utf-8")
    graft = base64.b64decode(out_b64).decode("utf-8")
    ref = str_to_code(inp)
    if ref == graft:
        ok += 1
    else:
        mism += 1
        if len(examples) < 10:
            examples.append((lineno, inp, graft, ref))

print(f"ok={ok} mismatches={mism}")
for lineno, inp, graft, ref in examples:
    print(f"--- line {lineno}\n  input: {inp!r}\n  graft: {graft!r}\n  ref:   {ref!r}")
sys.exit(0 if mism == 0 else 1)

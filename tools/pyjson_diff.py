#!/usr/bin/env python3
"""Differential check of graft's PyJsonDumps against REAL CPython json.

Reads `base64(input)<TAB>base64(output)|NULL` lines (produced by
`Test/runMain graft.PyJsonFuzz`) on stdin and replays every input through
json.loads (strict) + json.dumps(ensure_ascii=False):

  - graft NULL  & loads raises      -> agree (malformed both sides)
  - graft bytes & loads ok          -> byte-compare against dumps
  - any other combination           -> mismatch

Exit 0 iff zero mismatches. Prints a summary plus the first few diffs.
"""
import base64
import json
import sys

# --quote: lines come from `Test/runMain graft.PyJsonFuzz n seed out quote` —
# the input is a raw BARE string and the oracle is json.dumps(s,
# ensure_ascii=False) directly (the S6 PyJsonQuote path; never NULL).
quote_mode = "--quote" in sys.argv

ok = null_ok = mism = 0
examples = []
for lineno, line in enumerate(sys.stdin, 1):
    line = line.rstrip("\n")
    if not line:
        continue
    inp_b64, out_b64 = line.split("\t")
    inp = base64.b64decode(inp_b64).decode("utf-8")
    if quote_mode:
        py = json.dumps(inp, ensure_ascii=False)
    else:
        try:
            py = json.dumps(json.loads(inp), ensure_ascii=False)
        except (ValueError, RecursionError):
            py = None
    graft = None if out_b64 == "NULL" else base64.b64decode(out_b64).decode("utf-8")
    if py is None and graft is None:
        null_ok += 1
    elif py == graft:
        ok += 1
    else:
        mism += 1
        if len(examples) < 10:
            examples.append((lineno, inp, graft, py))

print(f"ok={ok} null_ok={null_ok} mismatches={mism}")
for lineno, inp, graft, py in examples:
    print(f"--- line {lineno}\n  input: {inp!r}\n  graft: {graft!r}\n  python:{py!r}")
sys.exit(0 if mism == 0 else 1)

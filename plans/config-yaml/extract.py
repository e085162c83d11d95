"""Extract every YAML document literal from the Scala sources.

A Scala string literal counts as a YAML document when, after stripMargin
(when applied) and escape decoding, its first non-comment line is a
top-level `key:` entry. s-interpolations are replaced by representative
values so both parsers see the same text.

    python3 plans/config-yaml/extract.py <repo> <out-dir>
"""
import os, re, sys, json

ROOTS = ["src/main", "src/test", "perfbench/src"]
SUBST = {"strategy": "subscribe", "MinWords": "20", "MaxWords": "1000",
         "NearThreshold": "0.7", "exactLine": "  exact-minlen: 25"}

def string_end(text, i, interp):
    """Index just past the string literal starting at text[i] (a quote)."""
    n = len(text)
    triple = text.startswith('"""', i)
    j = i + (3 if triple else 1)
    while j < n:
        c = text[j]
        if interp and c == "$" and text.startswith("${", j):
            j = block_end(text, j + 2); continue
        if interp and c == "$" and j + 1 < n and text[j+1] == "$":
            j += 2; continue
        if not triple and c == "\\":
            j += 2; continue
        if triple and text.startswith('"""', j):
            while j + 3 < n and text[j+3] == '"':
                j += 1
            return j + 3
        if not triple and c == '"':
            return j + 1
        j += 1
    raise SystemExit("unterminated string at offset %d" % i)

def block_end(text, j):
    """Index just past the `}` closing an interpolation block at depth 1."""
    depth = 1
    while depth:
        c = text[j]
        if c == '"':
            j = string_end(text, j, text[j-1] == "s"); continue
        if c == "{": depth += 1
        elif c == "}": depth -= 1
        j += 1
    return j

def literals(text):
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i); i = n if j < 0 else j; continue
        if text.startswith("/*", i):
            j = text.find("*/", i + 2); i = n if j < 0 else j + 2; continue
        if c == "'" and i + 2 < n and (text[i+2] == "'" or (text[i+1] == "\\" and i + 3 < n and text[i+3] == "'")):
            i += 3 if text[i+2] == "'" else 4; continue
        if c == '"':
            interp = i > 0 and text[i-1] in "sf" and not (i > 1 and (text[i-2].isalnum() or text[i-2] == "_"))
            start_line = text.count("\n", 0, i) + 1
            end = string_end(text, i, interp)
            raw = text.startswith('"""', i)
            body = text[i+3:end-3] if raw else text[i+1:end-1]
            strip = text.startswith(".stripMargin", end)
            yield start_line, body, interp, raw, strip
            i = end; continue
        i += 1

def interpolate(body, name_hits):
    def rep(m):
        g = m.group(0)
        if g == "$$": return "$"
        name = m.group(1) or m.group(2)
        name_hits.append(name)
        return SUBST.get(name, "/work/" + re.sub(r"\W", "_", name))
    return re.sub(r"\$\$|\$\{([^}]*)\}|\$([A-Za-z_][A-Za-z0-9_]*)", rep, body)

def decode(body):
    return re.sub(r'\\(.)', lambda m: {"n": "\n", "t": "\t", '"': '"', "\\": "\\"}.get(m.group(1), "\\" + m.group(1)), body)

def strip_margin(s):
    return "\n".join(re.sub(r"^[ \t]*\|", "", l) for l in s.split("\n"))

TOP = re.compile(r"^[A-Za-z_][A-Za-z0-9_-]*:( |$)")

def main(repo, out):
    os.makedirs(out, exist_ok=True)
    index = []
    for root in ROOTS:
        for d, _, fs in os.walk(os.path.join(repo, root)):
            for f in sorted(fs):
                if not f.endswith(".scala"): continue
                p = os.path.join(d, f)
                text = open(p, encoding="utf-8").read()
                for line, body, interp, raw, strip in literals(text):
                    hits = []
                    s = interpolate(body, hits) if interp else body
                    if not raw: s = decode(s)
                    if strip: s = strip_margin(s)
                    first = next((l for l in s.split("\n") if l.strip() and not l.lstrip().startswith("#")), "")
                    if not TOP.match(first) or "\n" not in s.strip(): continue
                    doc_id = "d%02d" % (len(index) + 1)
                    open(os.path.join(out, doc_id + ".yaml"), "w").write(s)
                    index.append({"id": doc_id, "src": "%s:%d" % (os.path.relpath(p, repo), line),
                                  "subst": sorted(set(hits))})
    # Documents the specs and the benchmark derive from an extracted literal.
    def doc(path, marker):
        for e in index:
            text = open(os.path.join(out, e["id"] + ".yaml")).read()
            if e["src"].startswith(path + ":") and marker in text:
                return text, e["id"], e["src"]
        raise SystemExit("no document in %s contains %r" % (path, marker))
    derived = [
        (("src/test/scala/graft/ConfigYamlSpec.scala", "topic-navn"), "replace schema: json -> schema: protobuf",
         lambda s: s.replace("schema: json", "schema: protobuf")),
        (("src/test/scala/graft/ConfigYamlSpec.scala", "topic-navn"), "replace the custom-config method by os.system",
         lambda s: s.replace("oracledb.Cursor.setinputsizes", "os.system")),
        (("src/test/scala/graft/ConfigYamlSpec.scala", "/data/landed"), "explicit curate input",
         lambda s: s.replace("output: /data/curated", "input: /elsewhere\n  output: /data/curated")),
        (("src/test/scala/graft/ConfigYamlSpec.scala", "/data/landed"), "no curate key",
         lambda s: s.split("curate:")[0]),
        (("src/test/scala/graft/ConfigYamlSpec.scala", "/data/landed"), "typo'd curate key dedupe",
         lambda s: s.replace("dedup:", "dedupe:")),
        (("src/test/scala/graft/CurateMainSpec.scala", "exact-minlen: 25"), "exactLine empty",
         lambda s: s.replace("  exact-minlen: 25", "").strip()),
        (("src/test/scala/graft/CurateMainSpec.scala", "not-null: doc_id,text"), "+ fail-on-violation",
         lambda s: s + "  fail-on-violation: true\n"),
        (("src/test/scala/graft/GraftMainSpec.scala", "k6dim"), "strategy: subscribe",
         lambda s: s.replace("strategy: assign", "strategy: subscribe")),
        (("src/test/scala/graft/GraftMainSpec.scala", "k6dim"), "strategy: subscribe + warm-run transforms",
         lambda s: s.replace("strategy: assign", "strategy: subscribe") +
         "  - src: $$BATCH_TIME\n    dst: lastet_tid\n  - src: d\n    dst: d_no\n    fun: str -> datetime-no\n"),
        (("perfbench/src/main/scala/graft/perfbench/Workloads.scala", "TESTERSEN"), "strategy: assign (assign_bulk)",
         lambda s: s.replace("strategy: subscribe", "strategy: assign")),
    ]
    for base, what, f in derived:
        s, bid, src = doc(*base)
        doc_id = "d%02d" % (len(index) + 1)
        open(os.path.join(out, doc_id + ".yaml"), "w").write(f(s))
        index.append({"id": doc_id, "src": src, "subst": [], "derived": "%s, %s" % (bid, what)})
    json.dump(index, open(os.path.join(out, "index.json"), "w"), indent=1)
    for e in index: print(e["id"], e["src"], ",".join(e["subst"]), e.get("derived", ""))

main(sys.argv[1], sys.argv[2])

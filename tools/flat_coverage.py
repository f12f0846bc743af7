#!/usr/bin/env python3
"""Regenerate SURVEY.md section 8's flat per-registry-row table from the
registry's QuerySpec rows. Prints markdown to stdout; splice with
--splice."""
import re
import sys

FILES = ["src/main/scala/graft/queries/StreamQueries.scala",
         "src/main/scala/graft/queries/RelationalQueries.scala",
         "src/main/scala/graft/queries/LlmQueries.scala"]
ENTRY = re.compile(r'^\s*QuerySpec\("([a-z0-9_]+)", \(s, d\) =>')
# the row's oracle argument starts with its SQL text; the builder ends
# before it
ORACLE_SQL = re.compile(r'^\s*s?"""')
HELPER = re.compile(r'^  private (?:lazy )?(?:def|val) (\w+)')
IMPL = re.compile(
    r'\b(?:graft\.)?(?:ops|streaming|engine|sources|functions)?\.?'
    r'(Dedup|Sessionize|Relational|Eval|TimeSeries|StreamOps|Similarity|'
    r'TextOps|Retrieval|CorpusOps|Graph|Multimodal|AsOf|Skew|Layout|UrlOps|'
    r'FuzzyJoin|SetSimJoin|QuantileSketch|Recommend|Skyline|Spatial|'
    r'Parallelism|Encode|KafkaShape|Monitoring|CommitLog|AvroOcf|'
    r'GraftFunctions|AnnIndexStore|TextIndexStore|OcfMaintenance|'
    r'SessionStream|DedupStream|AnnStream|AsOfStream|Scd2Stream|'
    r'IvmStream|LinkageStream|LmScoreStream|TextIndexStream|'
    r'CommitLogStream|DriftStream|SetSimStream|SketchStream|OhlcStream|'
    r'RateLimitStream|AnomalyStream|JoinStream|SlidingWordCountStream|'
    r'StreamingPipelines|KafkaShapedStream)\.(\w+)')


def joined(lines):
    """Source lines as one string, re-joining `Obj\n  .method` chains."""
    out = ""
    for l in lines:
        s = l.strip()
        out += s if s.startswith(".") else " " + s
    return out


def helpers(lines):
    """Body text of each object-level private def/val, by name."""
    out = {}
    for i, l in enumerate(lines):
        m = HELPER.match(l)
        if m:
            k = i + 1
            while k < len(lines) and (not lines[k].strip()
                                      or lines[k].startswith("    ")):
                k += 1
            out[m.group(1)] = joined(lines[i:k])
    return out


def primary_op(text, bodies):
    """First library call in a builder; else in a helper it calls."""
    m = IMPL.search(text)
    if m:
        return f"{m.group(1)}.{m.group(2)}"
    for call in re.finditer(r"\b(\w+)\(", text):
        m = IMPL.search(bodies.get(call.group(1), ""))
        if m:
            return f"{m.group(1)}.{m.group(2)}"
    return "inline DF"


def table():
    defs = {}
    for f in FILES:
        lines = open(f).read().split("\n")
        bodies = helpers(lines)
        entries = [(m.group(1), i) for i, l in enumerate(lines)
                   if (m := ENTRY.match(l))]
        for (name, i), nxt in zip(entries, entries[1:] + [(None, len(lines))]):
            k = i + 1
            while k < nxt[1] and not ORACLE_SQL.match(lines[k]):
                k += 1
            assert name not in defs, f"repeated row {name}"
            defs[name] = (f.split("/")[-1], i + 1,
                          primary_op(joined(lines[i:k]), bodies))
    names = sorted(defs)
    out = ["| # | query | defined at | primary op |",
           "|---|---|---|---|"]
    for n, name in enumerate(names, 1):
        f, ln, impl = defs[name]
        out.append(f"| {n} | `{name}` | `{f}:{ln}` | `{impl}` |")
    return len(names), out


def main():
    n, rows = table()
    if "--splice" in sys.argv:
        lines = open("SURVEY.md").read().split("\n")
        start = next(i for i, l in enumerate(lines)
                     if l.startswith("| # | query |"))
        end = start
        while end < len(lines) and lines[end].startswith("|"):
            end += 1
        lines[start:end] = rows
        open("SURVEY.md", "w").write("\n".join(lines))
        print(f"spliced {n} rows into SURVEY.md")
    else:
        print("\n".join(rows))


if __name__ == "__main__":
    main()

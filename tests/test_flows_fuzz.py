"""Extractor robustness: grammar fuzz, adversarial pages, fault barrier.

At the north rule's 10^12-page scale one malformed snippet that crashes
(or quadratically stalls) the per-page tracker kills a whole stage, so
the extractor must (a) never raise on arbitrary text, (b) stay fast on
pathological inputs, and (c) isolate any residual failure behind the
per-page fault barrier (`flows._extract_page_safe`) so the stage loses
one page, not the job.  (a)/(b) are checked directly over a seeded
statement grammar + a fixed adversarial corpus; (c) is unit-tested with
an injected failing extractor and integration-tested through the Arrow
UDF path with `observe()` lineage.
"""
import hashlib
import json
import random
import time
from pathlib import Path

import pytest
from pyspark.sql import Observation

from graph4code_spark.operators.flows import (
    PAGE_ERROR_SENTINEL,
    _extract_page_safe,
    build_flow_catalog,
    extract_flow_nodes,
    extract_page_expressions,
    extract_page_flow_nodes,
)
from graph4code_spark.schemas import ANALYSIS_NODES_SCHEMA
from graph4code_spark.sources.qa import parse_qa_page
from graph4code_spark.synth import (
    FIXED_CATALOG,
    HUB_ENTITY,
    _page_record,
    entity_name,
    entity_type,
)

CAT = build_flow_catalog(FIXED_CATALOG)
FIELDS = {f.name for f in ANALYSIS_NODES_SCHEMA.fields}

# ---------------------------------------------------------------------------
# seeded statement grammar (subset of every shape the extractor claims,
# plus deliberately broken lines)
# ---------------------------------------------------------------------------
NAMES = ["df", "x", "y", "m", "h", "data", "out", "cfg", "xs", "a", "b"]
MODS = ["pandas", "numpy", "sklearn", "pd", "np", "unknownmod"]
CALLS = ["pandas.read_csv", "pd.read_csv", "numpy.array", "np.log",
         "sklearn.svm.SVC", "SVC", "train_test_split", "unknown.call",
         "df.fillna", "m.fit", "m.predict", "h.data.transform"]
ARGS = ["'a.csv'", "1", "2.5", "df", "x", "xs", "*xs", "**cfg",
        "k=1", "key='v'", "stratify=y", "np.log(x)", "f(g(h))",
        "lambda r: r[1]", "[a, b]", "{'k': df}", "(x, y)", "df['c']",
        "df.col", "x[1:3]", "x if c else y", "a or b", "a and b", ""]
GARBAGE = ["@decorator", "@app.route('/x')", "assert x == 1", "del x",
           "global z", "yield x", "x = (", ")", "\tmixed\ttabs = 1",
           "# comment", "...", "x = 'unterminated", "async def g(): pass",
           "nonlocal q", "", "if x", "lambda: x", "x += m.fit(df)",
           "x = {'k': [1, (2, 3)]}", "print(f'{x} val')",
           # late-r5 desugars, well-formed and malformed
           "df: pandas.DataFrame = pandas.read_csv('a.csv')",
           "x: int = 1", "x: = 1", "x:y", "else: y = 1",
           "a = 1; b = m.fit(df); c", ";;;", "x = 'a;b'; y = 2",
           "if (v := pandas.read_csv('w.csv')) is not None:",
           "y = (z := 's;s')", "(q := 'un;term", "(w :=)",
           "while (chunk := reader.read()):",
           # lexer edge cases: unterminated and multi-line triple quotes,
           # escaped quotes, literal f-string braces, quoted brackets,
           # `\` continuations inside brackets and before a CRLF
           "x = '''never closed", 's = """a\n# not a comment\nb"""',
           "x = 'it\\'s ('", "s = f'{{df.fillna(0)}}'",
           "pandas.read_csv(')', sep=';')",
           "x = pandas.read_csv('a', \\\n    sep=',')",
           "x = pandas.\\\r\n    read_csv('a.csv')"]


def _call(rng):
    fn = rng.choice(CALLS)
    return f"{fn}({', '.join(rng.choice(ARGS) for _ in range(rng.randrange(4)))})"


def _stmt(rng, depth=0):
    ind = "    " * depth
    r = rng.random()
    lines = []
    if r < 0.08:
        m = rng.choice(MODS)
        lines.append(rng.choice([
            f"{ind}import {m}", f"{ind}import {m} as {rng.choice(NAMES)}",
            f"{ind}from {m} import {rng.choice(NAMES)}",
            f"{ind}from {m} import *",
            f"{ind}import sklearn.model_selection.train_test_split"]))
    elif r < 0.30:
        t = rng.choice(NAMES)
        lines.append(rng.choice([
            f"{ind}{t} = {_call(rng)}",
            f"{ind}{t}, {rng.choice(NAMES)} = {_call(rng)}",
            f"{ind}{t} = {rng.choice(NAMES)} = {_call(rng)}",
            f"{ind}{t} = {rng.choice(NAMES)}['{rng.choice(NAMES)}']",
            f"{ind}{t}.attr = {rng.choice(NAMES)}",
            f"{ind}{t} = [{rng.choice(NAMES)}, {_call(rng)}]",
            f"{ind}{t} = {rng.choice(NAMES)} + {rng.choice(NAMES)}",
            f"{ind}{t} = lambda p: {_call(rng)}"]))
    elif r < 0.42:
        lines.append(f"{ind}{_call(rng)}")
    elif r < 0.50 and depth < 3:
        lines.append(f"{ind}if {rng.choice(NAMES)}:")
        lines += _stmt(rng, depth + 1)
        if rng.random() < 0.5:
            lines.append(f"{ind}elif {rng.choice(NAMES)} > 1:")
            lines += _stmt(rng, depth + 1)
        if rng.random() < 0.6:
            lines.append(f"{ind}else:")
            lines += _stmt(rng, depth + 1)
    elif r < 0.56 and depth < 3:
        lines.append(ind + rng.choice(
            ["while c:", f"for v in {rng.choice(NAMES)}:",
             f"for v in {_call(rng)}:"]))
        lines += _stmt(rng, depth + 1)
    elif r < 0.62 and depth < 3:
        lines.append(f"{ind}try:")
        lines += _stmt(rng, depth + 1)
        lines.append(f"{ind}except ValueError:")
        lines += _stmt(rng, depth + 1)
        if rng.random() < 0.4:
            lines.append(f"{ind}finally:")
            lines += _stmt(rng, depth + 1)
    elif r < 0.70 and depth == 0:
        lines.append(f"{ind}def fn_{rng.randrange(3)}"
                     f"({', '.join(rng.sample(NAMES, rng.randrange(3)))}):")
        lines += _stmt(rng, depth + 1) or [f"{ind}    pass"]
        if rng.random() < 0.6:
            lines.append(f"{ind}    return {rng.choice(NAMES)}")
    elif r < 0.76 and depth == 0:
        k = rng.randrange(2)
        lines += [f"{ind}class K_{k}:",
                  f"{ind}    def __init__(self, p):",
                  f"{ind}        self.f = p",
                  f"{ind}    def go(self, q):",
                  f"{ind}        return self.f"]
    elif r < 0.82:
        lines.append(f"{ind}with {_call(rng)} as v:")
        lines += _stmt(rng, depth + 1)
    elif r < 0.88:
        lines.append(ind + rng.choice(GARBAGE))
    else:
        lines.append(f"{ind}{rng.choice(NAMES)} = "
                     f"{rng.choice(NAMES)}.{rng.choice(NAMES)}[1:3]")
    return lines


def _snippet(rng):
    lines = []
    for _ in range(rng.randrange(1, 14)):
        lines += _stmt(rng)
    return "\n".join(lines)


def _check_invariants(nodes):
    nums = [n["node_number"] for n in nodes]
    assert len(nums) == len(set(nums)), "duplicate node numbers"
    valid = set(nums)
    for n in nodes:
        assert FIELDS <= set(n.keys())
        for dsts in (n["flows_to"] or {}).values():
            assert all(d in valid for d in dsts), "dangling flowsTo target"
        assert all(d in valid for d in (n["immediately_precedes"] or [])), \
            "dangling precedes target"


def _fuzz_pages():
    for i in range(300):
        rng = random.Random(i)
        yield f"http://fuzz/{i}", [_snippet(rng)
                                   for _ in range(rng.randrange(1, 4))]


def test_grammar_fuzz_no_crash_and_invariants():
    """300 seeded random pages: never raises; node numbers unique and
    every flowsTo/precedes edge targets an existing page node."""
    for url, codes in _fuzz_pages():
        nodes = extract_page_flow_nodes(url, codes, CAT)
        _check_invariants(nodes)
        # the expressions twin runs the same tracker — same guarantee
        extract_page_expressions(url, codes, CAT)


# ---------------------------------------------------------------------------
# differential pin: an order-independent digest of the extractor's output
# over the synth corpus and the fuzz grammar, so a front-end rewrite shows
# every page whose node/edge set moves
# ---------------------------------------------------------------------------
def _synth_pages(seed, n):
    """(url, codes) of synth pages 0..n-1, built without Spark."""
    names = sorted({entity_name(r) for r in FIXED_CATALOG})
    etypes = {entity_name(r): entity_type(r) for r in FIXED_CATALOG}
    for pid in range(n):
        rec = _page_record(pid, seed, names, HUB_ENTITY, etypes)
        qa = parse_qa_page(rec["url"], rec["html"].decode("utf-8"))
        if qa is not None:
            yield qa["url"], list(qa["codes"])


def _digest(pages):
    """(node count, sha256 over the sorted node and edge tuples, and
    ``(url, digest)`` per page in page order, truncated to 8 hex)."""
    rows, per_page = [], []
    for url, codes in pages:
        page = []
        for n in extract_page_flow_nodes(url, codes, CAT):
            src = n["node_number"]
            page.append(json.dumps(
                {k: v for k, v in n.items()
                 if k not in ("flows_to", "immediately_precedes")},
                sort_keys=True))
            page.extend(f"{url} {src} -{o}-> {d}"
                        for o, ds in n["flows_to"].items() for d in ds)
            page.extend(f"{url} {src} -> {d}"
                        for d in n["immediately_precedes"])
        per_page.append((url, _sha("\n".join(sorted(page)))[:8]))
        rows += page
    n_nodes = sum(r.startswith("{") for r in rows)
    return n_nodes, _sha("\n".join(sorted(rows))), per_page


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def _corpus(name):
    return (_fuzz_pages() if name == "fuzz"
            else _synth_pages(int(name[-1]), 1000))


#: per-page digests recorded with the pins below, in page order; a
#: failing pin names the pages that moved.  Re-record with
#: `python -m tests.test_flows_fuzz` from the repository root.
PAGE_DIGESTS = Path(__file__).with_name("flows_page_digests.json")


@pytest.mark.parametrize("corpus,expected", [
    ("synth-1", (16359, "7dc7717cc68ce18e6f70d6d856d98522"
                        "fb9d665fa4ced3bb06511584fc0bb400")),
    ("synth-2", (16323, "31c5015ff6547670a4994921fbf1a0c1"
                        "27ee1fafda17ffa2030ee89cfeadf090")),
    ("fuzz", (1915, "f0e870adeee4d0765a26c94b4781f573"
                    "f9f3420940628886aa8c2c0e3778bb41")),
])
def test_extractor_output_digest_pinned(corpus, expected):
    """Synth seeds 1 and 2 (1,000 pages each) and the 300 fuzz-grammar
    pages extract to the recorded node/edge sets.  The synth digests
    are those of the per-character scanners and the regex desugar the
    lexer and the AST lowering replaced; the fuzz digest is re-recorded
    whenever `GARBAGE` or the grammar changes, or the handling of a
    statement that does not parse."""
    n_nodes, sha, per_page = _digest(_corpus(corpus))
    pinned = json.loads(PAGE_DIGESTS.read_text())[corpus]
    moved = [u for (u, d), p in zip(per_page, pinned) if d != p]
    assert (n_nodes, sha) == expected, (
        f"{len(moved)} of {len(pinned)} pinned pages moved "
        f"({len(per_page)} now), first: {moved[:10]}")


ADVERSARIAL = {
    "deep_parens": "x = " + "(" * 2000 + "1" + ")" * 2000,
    "unclosed_parens": "x = f(" * 500,
    "long_dotted": "x = " + ".".join(["a"] * 5000) + "()",
    "huge_line": "df = pandas.read_csv(" + "'a'," * 20000 + ")",
    "many_lines": "\n".join(f"x{i} = pandas.read_csv('f{i}.csv')"
                            for i in range(3000)),
    "deep_if": "\n".join("    " * i + f"if x{i}:" for i in range(60))
               + "\n" + "    " * 60 + "m = sklearn.svm.SVC()",
    "many_elif": "if a:\n    x = 1\n" + "\n".join(
        f"elif b{i}:\n    m{i} = sklearn.svm.SVC()" for i in range(500)),
    "chained_calls": "x = " + "f(" * 300 + "1" + ")" * 300,
    "long_chain_attr": "x = df" + ".fillna(1)" * 800,
    "unterminated": 'x = "never ends...\ny = pandas.read_csv("a.csv")',
    "unicode": "变量 = pandas.read_csv('файл.csv')\n🔥 = 变量.fillna(0)",
    "null_bytes": "x = pandas.read_csv('a\x00b.csv')\x00\ny = x.fillna(0)",
    "crlf": "x = pandas.read_csv('a.csv')\r\ny = x.dropna()\r\n",
    "mixed_indent": "if a:\n    if b:\n\t m = sklearn.svm.SVC()\n  m.fit(x)",
    "triple_quote_code": 's = """\nm = sklearn.svm.SVC()\n"""\nm.fit(x)',
    "unterminated_triple": "x = '''" + "a\\'b'' (\n" * 20000,
    "long_closed_triple": "x = '''" + "a\\'b'' (\n" * 20000 + "'''\nx.y()",
    "class_depth": "\n".join(
        ["class A:"] + [f"    def m{i}(self, p):\n        self.f{i} = p"
                        for i in range(200)]),
    "def_many_params": "def f(" + ",".join(f"p{i}" for i in range(800))
                       + "):\n    return p0\nx = f(pandas.read_csv('a'))",
    "huge_tuple_unpack": ",".join(f"v{i}" for i in range(500))
                         + " = train_test_split(x)",
    "alias_cycle": "a = b\nb = a\na = b\nb = a\nm = a.fit(x)",
    "repeated_rebind": "\n".join("df = df.fillna(%d)" % i
                                 for i in range(2000)),
    "splat_storm": "f(" + "*xs, " * 300 + "**cfg)",
    "star_import_storm": "\n".join(
        f"from {m} import *" for m in ["pandas", "numpy", "sklearn"] * 30),
    "bool_chain": "x = " + " or ".join(f"a{i}" for i in range(1000)),
    "binop_chain": "x = " + " + ".join(f"a{i}" for i in range(1000)),
    "containers_of_calls": "xs = [" + ",".join(
        ["sklearn.svm.SVC()"] * 300) + "]",
    "regex_bomb_str": "x = '" + "a" * 100000 + "'",
    "regex_bomb_ident": "x" * 50000 + " = 1",
    "only_newlines": "\n" * 10000,
    "windows_bom": "\ufeffx = pandas.read_csv('a.csv')",
}


@pytest.mark.parametrize("name", sorted(ADVERSARIAL))
def test_adversarial_page_fast_and_sane(name):
    """Pathological pages must neither raise nor stall (an executor
    stuck on one page is as fatal as a crash at web scale)."""
    t0 = time.time()
    nodes = extract_page_flow_nodes(f"http://adv/{name}",
                                    [ADVERSARIAL[name]], CAT)
    assert time.time() - t0 < 5.0, f"{name} pathologically slow"
    _check_invariants(nodes)


def test_tracker_reads_nodes_not_text():
    """The tracker reads parsed statement nodes: the only compiled
    module patterns left are the snippet lexer and the four REPL-prompt
    patterns, and the per-page closure function is gone."""
    import re

    from graph4code_spark.operators import flows

    patterns = {name for name, v in vars(flows).items()
                if isinstance(v, re.Pattern)}
    assert patterns == {"_LEX_RE", "_REPL_PS1_RE", "_REPL_PS2_RE",
                        "_IPY_IN_RE", "_IPY_CONT_RE"}
    assert not hasattr(flows, "_page_nodes")


# ---------------------------------------------------------------------------
# fault barrier
# ---------------------------------------------------------------------------
def test_fault_barrier_isolates_page():
    """An extractor failure yields one sentinel row (node_number = -1,
    exception class + message recorded), never an exception."""
    def boom(url, codes, cat):
        raise ValueError("injected page failure")

    rows = _extract_page_safe("http://bad/1", ["x = 1"], CAT, extractor=boom)
    assert len(rows) == 1
    row = rows[0]
    assert row["node_number"] == -1
    assert row["path_end"] == PAGE_ERROR_SENTINEL
    assert row["normalized_label"] == "ValueError"
    assert "injected" in row["source_text"]
    assert FIELDS <= set(row.keys())
    # the good path passes through untouched
    good = _extract_page_safe(
        "http://ok/1", ["import pandas\ndf = pandas.read_csv('a.csv')"], CAT)
    assert good == extract_page_flow_nodes(
        "http://ok/1", ["import pandas\ndf = pandas.read_csv('a.csv')"], CAT)


def test_extract_flow_nodes_filters_sentinels_and_observes(spark):
    """Through the Arrow UDF path: sentinel rows never reach the caller
    and `observe()` lineage reports zero failures on clean input."""
    qa = spark.createDataFrame(
        [("http://p/1", ["import pandas\ndf = pandas.read_csv('a.csv')"]),
         ("http://p/2", ["@decorator\nx = ("])],
        "url string, codes array<string>")
    obs = Observation("flow_fuzz_obs")
    out = extract_flow_nodes(qa, FIXED_CATALOG, error_observation=obs)
    rows = out.collect()
    assert rows, "clean page produced no nodes"
    assert all(r.node_number >= 0 for r in rows)
    assert not any(r.path_end == PAGE_ERROR_SENTINEL for r in rows)
    assert obs.get == {"pages_failed": 0, "rows_seen": len(rows)}


if __name__ == "__main__":
    # `python -m tests.test_flows_fuzz`: re-record the per-page digests
    # and print the pins for the table above
    out = {}
    for name in ("synth-1", "synth-2", "fuzz"):
        n_nodes, sha, per_page = _digest(_corpus(name))
        out[name] = [d for _, d in per_page]
        print(name, n_nodes, sha)
    PAGE_DIGESTS.write_text(json.dumps(out, indent=0) + "\n")

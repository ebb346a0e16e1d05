"""Code-block flow extraction: snippets → analysis-node rows (E6/E7 feed).

The reference's analysis graph comes from WALA interprocedural analysis of
whole Python scripts (`PythonTurtleAnalysisEngine.java:1413-2256`).  Here
the inputs are forum snippets, so this operator is the honest subset
SURVEY.md §7.7 scopes: per-snippet def-use tracking emitting the
reference's node/edge vocabulary, one Arrow-batched pass over (url,
codes), node numbers sequential per page.

Front end: `_strip_repl_transcript` keeps a REPL or IPython transcript's
typed lines; one lexer scan (`_LEX_RE`) finds strings, comments, brackets
and `\\` continuations, and `_logical_lines` joins physical lines into
statements (a bracket or `\\` join stops after `_MAX_SPAN` lines, a closed
string joins whatever its length, a multi-line string's interior is
text).  `_Lowering` parses each statement with `ast`, lowers its sugar
and hands the tracker parsed `_Stmt`s (node, indentation, text).  A
statement that does not parse mints nothing and the statements around it
still track; `else:`/`try:`/`except …:`/`finally:` headers parse inside a
wrapper, and a Python 2 `print x, y` lowers to its operand expression.
`_Tracker` runs one handler per node type.  The shapes (sugar such as
decorators and lambdas is lowered first, see `_Lowering`):

- calls (`call`): one node per API call rooted at a catalog module or an
  import.  A cataloged call keeps its path; an uncataloged invoke on a
  tracked turtle extends its path (G1, `…Engine.java:1413-1704`:
  `data.fillna(...)` on a read_csv result is `pandas.read_csv.fillna`,
  example1.json node 82; `….SVC.fit.predict`, example2.json node 106);
  an uncataloged call through an import binding roots at the module
  (`pandas.notnull`, example3.json node 84).  Consecutive nodes chain by
  CONTROL `immediatelyPrecedes` (`…Engine.java:2116-2256`).
- receivers and arguments (`args`): `v = Ctor(...)` then `v.m(...)`, and
  `Ctor(...).m(...)`, flow the ctor into m at DATA-0
  (`…Engine.java:1892-1954`, the collapse rewrite of
  `…Engine.java:2069-2112`).  Arguments count from 1 in source order,
  keywords included (`stratify=…` at 4, example2.json node 88); plain
  literals are constants.  A nested call `g(f(x))` flows f's chain-final
  node into g (WALA's CAstNode.CALL order); a tracked `v.attr`/`v['k']`
  argument mints its own read node (example1.json node 90); a binop
  argument an `.expr` turtle (`kernel=1.0 * RBF(1.0)`, example2.json nodes
  101-103); `f(*xs)`/`f(**cfg)` and container literals flow their
  members (`…Engine.java:1905-1920`).
- imports (`import_`, `import_from`): the import node plus a member-read
  per dotted segment (example1.json nodes 76-79); `from a.b import N`
  reads the module segments, the last named importTree<k>, `from a
  import N` reads N (example2.json nodes 78/81/82, example3.json nodes
  75/79).  Calls through a binding take DATA-0 from its node (pandas(74)
  →0→ read_csv(85)); aliases resolve to catalog names; `from M import *`
  binds M's direct catalog children.
- bindings (`flows`): the lhs belongs to the call whose postfix
  expression IS the rhs, applied after the line's uses resolve (SSA:
  `data = data.where(pd.notnull(data), …)`, example3.json nodes 80-84);
  a non-ctor result has unknown class (G8, `…Engine.java:456-486`).
  `a, b = call()` mints ordinal element nodes (example2.json nodes
  87/89/90); `with Ctor() as v:` binds like `v = Ctor()`; `del a` unbinds.
- values without a call (`value_shapes`): `x = v.attr`/`v['k']` mint a
  read node fed at DATA-0 (example2.json nodes 95/100), `x = v[a:b]` an
  is_slice node fed at 1 (the wala/builtin/slice probe,
  `…Engine.java:1697-1704`, example2.json nodes 92/93), `x = v.attr[i]`
  the attr read then a key read or selection, and a complex index `X =
  data[data.columns[:…]]` the path-unchanged selection with its inner
  read → slice chain (example1.json nodes 84-86).  Copies alias; `c = a +
  b`, `x op= a`, ternaries and `a or b` carry every operand (the …/expr
  types and phis of `…Engine.java:596-674`); `xs.append(v)` adds a
  member.  A store through an untracked object (`h.data = df`, a dict
  literal's string keys) flows to its loads with no node: store/load is
  SSA plumbing in WALA's pointer analysis.
- reads and writes (`writes_reads`): `v.f = …` on a tracked value is a
  write, another `v.attr` a read (G2, `…Engine.java:1892-1954`); digit
  fields stay out (the emitters read them as node references,
  `…Engine.java:400-414`).  `m = obj.fit; m(X)` fuses the read into the
  invoke when that is its sole use (G4, `…Engine.java:2069-2112`).
- control flow (`frame`, G5, `…Engine.java:2116-2256`): if/elif/else,
  try/except/else/finally, while and for arms fork from the pre frontier
  and join at the first statement after them, innermost first.  Bindings
  phi at the join: agreeing paths stay precise, disagreeing ones union
  into an element set that resolves a method when its classes agree;
  fields survive where every path stores the same value.  A loop may run
  zero times (no back-edge: one unrolling), a try body always runs, an
  arm ended by `return`/`raise` is dead.  Import bindings and instance
  aliases keep last-arm semantics.
- defs (G3, `…Engine.java:1970-2025`): argument producers wire to the
  body's parameter uses and the return binds the caller's lhs (a tuple
  element-wise, differing arms as a phi).  Bodies see module bindings and
  share their nodes across sites (context-insensitive); a nested helper
  call forwards parameter uses one level out; a method call on a
  parameter clones per call site against its receiver class (G8,
  `…Engine.java:456-486`).  Defs precede their call sites.
- classes: `__init__` self stores are the instance's fields, methods
  dispatch through per-instance aliases, setter stores bind per call site
  (WALA's object-sensitive pointer analysis, projected), `X(a).m(b)` uses
  an anonymous instance, a local base seeds a subclass.  Comprehensions
  `[E for v in xs]` bind v to xs's elements (WALA's hidden comprehension
  function), track E once and bind a container of the result.
"""

from __future__ import annotations

import ast
import itertools
import re
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph4code_spark.schemas import ANALYSIS_NODES_SCHEMA
from graph4code_spark.synth import entity_name, entity_type

#: the snippet lexer — ONE left-to-right scan that finds every token
#: deciding statement structure: string literals (any prefix, single or
#: triple quotes, backslash escapes; an unterminated literal runs to the
#: end of its line, a triple-quoted one to the end of the text), `#`
#: comments, brackets, `\`-newline continuations and newlines.  Names
#: and operators between tokens are skipped.
_LEX_RE = re.compile(
    # the leading lookahead lets the scan skip other characters quickly
    r"(?=[rRbBuUfF'\"#()\[\]{}\\\n])"
    r"(?:(?P<str>(?P<pre>(?<!\w)[rRbBuUfF]{1,2}|)"
    r"(?:'''[^'\\]*+(?:(?:\\.|'(?!''))[^'\\]*+)*+(?:(?P<q1>''')|\\?\Z)"
    r"|\"\"\"[^\"\\]*+(?:(?:\\.|\"(?!\"\"))[^\"\\]*+)*+(?:(?P<q2>\"\"\")|\\?\Z)"
    r"|'[^'\\\n]*+(?:\\.[^'\\\n]*+)*+(?:'|(?=\n)|\\?\Z)"
    r"|\"[^\"\\\n]*+(?:\\.[^\"\\\n]*+)*+(?:\"|(?=\n)|\\?\Z)))"
    r"|(?P<com>\#[^\n]*)"
    r"|(?P<open>[(\[{])|(?P<close>[)\]}])"
    r"|(?P<cont>\\\r?\n)|(?P<nl>\n))",
    re.S,
)
#: max physical lines a bracket or `\` join may span (an unclosed paren
#: must not swallow the snippet); never applied inside a string literal
_MAX_SPAN = 8


def _logical_lines(lines: list[str]):
    """Assemble physical lines into logical statements: multi-line spans
    (`RunTurtleSingleAnalysis.java:233-259` records firstLine !=
    lastLine).  A statement continues inside open brackets or after a
    `\\` for at most `_MAX_SPAN` lines, and inside a closed string
    literal.  Returns ``(first line, kept physical lines, text)`` per
    statement.  Comments are cut with the blanks before them; a
    multi-line triple-quoted literal's interior lines are blanked.  A
    `\\` continuation splices token-tight (`x = pandas.\\` +
    `read_csv(…)` keeps the dotted name); bracket spans keep newlines."""
    text = "\n".join(lines)
    drop: list[tuple[int, int]] = []  # text ranges cut from the lines
    spans: list[tuple[int, int]] = []  # (first, last) line per statement
    first = ln = depth = 0
    for m in _LEX_RE.finditer(text):
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            depth = max(0, depth - 1)
        elif kind == "com":  # cut with the blanks before it
            bol = text.rfind("\n", 0, m.start()) + 1
            drop.append((bol + len(text[bol:m.start()].rstrip()), m.end()))
        elif kind == "str" and "\n" in m.group():
            body = m.end("pre") + 3
            if m.group("q1") or m.group("q2"):  # closed triple quote
                drop.append((body, m.end() - 3))
            elif text[body - 3:body] in ("'''", '"""'):
                # unterminated: the rest of the text is string; the
                # statement ends at the opening line
                drop.append((body, m.end()))
                spans.append((first, ln))
                first = ln + 1
            ln += m.group().count("\n")
        elif kind in ("nl", "cont"):
            ln += 1
            if ln - first >= _MAX_SPAN or (kind == "nl" and not depth):
                spans.append((first, ln - 1))
                first, depth = ln, 0
    spans.append((first, len(lines) - 1))
    parts, pos = [], 0
    for start, end in drop:
        parts += (text[pos:start], "\n" * text.count("\n", start, end))
        pos = end
    kept = ("".join(parts) + text[pos:]).split("\n")
    out: list[tuple[int, list[str], str]] = []
    for i, j in spans:
        stmt = "\n".join(kept[i:j + 1])
        if "\\" in stmt:
            stmt = re.sub(r"\\\r?\n\s*", "", stmt)
        out.append((i, kept[i:j + 1], stmt))
    return out


# ---------------------------------------------------------------------------
# the lowering pass: snippet sugar → the core statements the tracker reads
# ---------------------------------------------------------------------------
#: binary operators whose subscript operands hoist (`x = df['a'] * k`)
_HOIST_BINOPS = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod)
#: the only parents a hoisted operand may have for the next operand to
#: hoist in the same step: its temp can then start no new hoist
_OPERATORS = (ast.BoolOp, ast.Compare, ast.UnaryOp, ast.BinOp)
#: most hops an attribute chain splits into (a subset bound)
_MAX_HOPS = 40
#: most lowering steps one statement takes; each re-parses what is left,
#: so a 1000-link call chain in a condition must not take 1000 of them
_MAX_STEPS = 64
#: what `ast.parse` raises on text that is not Python 3, or nested too
#: deep for its parser stack (MemoryError) or AST construction (RecursionError)
_UNPARSED = (SyntaxError, ValueError, RecursionError, MemoryError)


def _pos(node):
    return node.lineno, node.col_offset


def _nodes(node):
    """``(node, parent)`` for ``node`` and everything under it, outside
    f-strings (string text is never lowered)."""
    todo = [(node, None)]
    while todo:
        n, p = todo.pop()
        yield n, p
        if type(n) is not ast.JoinedStr:
            todo.extend((c, n) for c in ast.iter_child_nodes(n))


def _arg_lambdas(node):
    """The lambdas under a call's arguments, outside other lambdas."""
    todo = [(node, False)]
    while todo:
        n, arg = todo.pop()
        if type(n) is ast.Lambda:
            if arg:
                yield n
        elif type(n) is ast.Call:
            todo.append((n.func, arg))
            todo += [(a, True) for a in n.args]
            todo += [(k.value, True) for k in n.keywords]
        else:
            todo += [(c, arg) for c in ast.iter_child_nodes(n)]


def _chain(node):
    """``(root, links)`` of a postfix expression: its attribute,
    subscript and call links, innermost first."""
    links = []
    while type(node) in (ast.Attribute, ast.Subscript, ast.Call):
        links.append(node)
        node = node.func if type(node) is ast.Call else node.value
    links.reverse()
    return node, links


def _hops(links) -> int:
    """How many attribute links a chain starts with."""
    k = 0
    while k < len(links) and type(links[k]) is ast.Attribute:
        k += 1
    return k


def _has(nodes, kinds) -> bool:
    """A node of ``kinds`` among ``nodes`` or under them."""
    todo = list(nodes)
    while todo:
        n = todo.pop()
        if isinstance(n, kinds):
            return True
        if type(n) not in (ast.Name, ast.Constant):
            todo.extend(ast.iter_child_nodes(n))
    return False


def _flat(link) -> bool:
    """A call with no call among its arguments, or a subscript with no
    bracket in its index — a link that splits off in one step."""
    if type(link) is ast.Call:
        return not _has([*link.args, *(k.value for k in link.keywords)],
                        ast.Call)
    if type(link) is ast.Subscript:
        return not _has([link.slice], (ast.Subscript, ast.List, ast.ListComp))
    return True


def _dotted(node, dots=0) -> bool:
    """A plain name or an attribute chain of names, ≥ ``dots`` hops."""
    while type(node) is ast.Attribute:
        node, dots = node.value, dots - 1
    return type(node) is ast.Name and dots <= 0


def _tail(links, subscripts=True) -> bool:
    """Links a chain split leaves on its temp: `.name`, `.name(args)`
    with flat args and, with ``subscripts``, a flat `[index]`."""
    for i, t in enumerate(links):
        if type(t) is ast.Call:
            if not (i and type(links[i - 1]) is ast.Attribute and _flat(t)):
                return False
        elif type(t) is ast.Subscript and not (subscripts and _flat(t)):
            return False
    return True


def _access(links) -> int:
    """Index of the subscript in a `v[key]` / `v.attr[key]` chain head,
    or -1."""
    k = int(bool(links) and type(links[0]) is ast.Attribute)
    return k if len(links) > k and type(links[k]) is ast.Subscript else -1


def _subscr_chain(node) -> bool:
    """`v.attr[key].name(args)…`: one flat subscript on a dotted name with
    at least one attribute link after it."""
    root, links = _chain(node)
    k = _hops(links)
    return (type(root) is ast.Name and k < len(links) - 1
            and type(links[k]) is ast.Subscript and _flat(links[k])
            and _tail(links[k + 1:], subscripts=False))


def _str_key(node) -> bool:
    """`v['key']` on a plain name."""
    return (type(node) is ast.Subscript and type(node.value) is ast.Name
            and type(node.slice) is ast.Constant
            and type(node.slice.value) is str)


def _number(node) -> bool:
    return (type(node) is ast.Constant
            and type(node.value) in (int, float))


def _operand(node) -> bool:
    """A binop operand the subscript hoist takes: a name, a number, or a
    flat subscript of `v` / `v.attr`."""
    if type(node) is ast.Subscript:
        return _dotted(node.value) and not _dotted(node.value, 2) \
            and _flat(node)
    return type(node) is ast.Name or _number(node)


def _hoists(expr, tracked, calls=True):
    """The operands of a condition or index to hoist next, in source
    order: its dotted calls with flat args (`df.isnull()`), or without
    any (or without ``calls``) its field reads on tracked names — a
    `v.attr` that is not the base of another link, and `v['key']`.
    One hoist at a time would re-lower the statement after each; an
    operand under operators only cannot feed a new hoist, so the next
    one joins it, up to the first that could."""
    up = {}
    found, reads = [], []
    for n, p in _nodes(expr):
        up[id(n)] = p
        if type(n) is ast.Call:
            if calls and _dotted(n.func, 1) and _flat(n):
                found.append(n)
        elif type(n) is ast.Attribute:
            if (type(n.value) is ast.Name and n.value.id in tracked
                    and not (type(p) in (ast.Attribute, ast.Subscript)
                             and p.value is n)
                    and not (type(p) is ast.Call and p.func is n)):
                reads.append(n)
        elif _str_key(n) and n.value.id in tracked:
            reads.append(n)
    out = []
    for n in sorted(found or reads, key=_pos):
        out.append(n)
        p = up[id(n)]
        while type(p) in _OPERATORS:
            p = up[id(p)]
        if p is not None:
            break
    return out


#: a clause header's parse: the clause inside a statement it completes
_CLAUSES = {"else": "if 1: pass\n{} pass", "try": "{} pass\nfinally: pass",
            "except": "try: pass\n{} pass", "finally": "try: pass\n{} pass"}


def _expr(text, mode="eval"):
    """The parse of ``text`` (its expression in eval mode), or None."""
    try:
        tree = ast.parse(text, mode=mode)
    except _UNPARSED:
        return None
    return tree.body if mode == "eval" else tree


class _Lowering:
    """Lower each logical statement to parsed core statements (`_Stmt`s)
    for the tracker.  A statement is `ast.parse`d (a header with a `pass`
    body, an `elif` as an `if`, a clause inside a wrapper), its sugar is
    rewritten by node type into statements sliced from its own text and
    parsed again; what is left is yielded with its node.  Hoisted
    intermediates are `_subN_` (unnamed in the output, like WALA's SSA
    intermediates), `_unpN_i` and `_lamN_`, numbered per snippet.  Guards
    read the tracker's live bindings (`env()`).  In the order tried:

    - `;` compounds lower one by one; walrus `(n := E)` → `n = E` first
      (one unrolling in elif/while heads); `df: T = E` → `df = E`.
    - `if`/`elif`/`while` heads hoist their leftmost dotted call with
      flat args (`if df.dropna() is not None:`), else their leftmost
      field read on a tracked name (`if df.empty:`) into a temp, a `for`
      iterable its field reads; chains unwind innermost-first.
    - `with A() as a, B() as b:` → one `with` per item; a bare decorator
      `@mod.deco` → the call `mod.deco()`, applied at def time.
    - assignments to a name: a ternary hoists its condition's reads;
      `a = b = RHS` → `b = RHS` + `a = b`; `f = lambda p: E` at top
      level → `def f(p):` + `return E`.
    - postfix chains: a call before a subscript hoists
      (`df.groupby('k')['v'].mean()`); call-shaped args of a local def's
      call hoist (G3/G8 see bound values), subscript-chain args of any
      call too; attribute chains on a tracked name split hop by hop
      (`m.coef_.T`); subscript chains hoist the access (`df['c'].sum()`;
      a container base, `models[0].fit(x)`, stays whole).
    - subscript operands of a binop hoist so their reads mint (a
      string-key pair stays whole for the semForms miner); a complex
      index (`df[df['a'] > 0]`) hoists its calls, then its reads;
      `df['z'] = df['a'].apply(str)` hoists the value; `df['a'] += 1` →
      `_subN_ = df['a']`, `df['a'] = _subN_ + 1`.
    - `a, b = X(), Y()` → `_unpN_0 = X()`, `_unpN_1 = Y()`, then the
      aliases: the rhs evaluates first (`a, b = b, a` swaps).
    - last, a lambda among a top-level call's arguments lifts into a def
      `_lamN_` (lambda bodies are entrypoints, `TurtleSummary.java:
      57-61`); the library invoking it stays out (G6).
    """

    def __init__(self, env):
        # env() -> (var_producer, var_members, var_fields, local_defs)
        self.env = env
        self.n = 0

    def tmp(self, kind="sub"):
        self.n += 1
        return f"_{kind}{self.n - 1}_"

    def __call__(self, stmt: str):
        """Yield the parsed core statements ``stmt`` lowers to."""
        for _ in range(_MAX_STEPS):  # a loop, not recursion: a long tail
            stmt = yield from self.step(stmt)
            if stmt is None:
                return
        yield from self.core(stmt)  # the cap: the rest stays as it is

    def core(self, stmt: str):
        """Yield ``stmt`` parsed, already a core form."""
        return self.step(stmt, lowered=False)

    def step(self, stmt: str, lowered=True):
        """Yield the statements that lower ahead of ``stmt``; return the
        statement left to lower after them, or None."""
        text = stmt.lstrip()
        ind = stmt[:len(stmt) - len(text)]
        text = text.rstrip()
        if not text:
            return None
        if text[0] == "@":
            deco = _expr(text[1:])
            if deco is not None:
                yield from self.core(ind + text[1:] + "()" * _dotted(deco))
            return None
        lead, code, clause = "", text, ""
        if text.endswith(":"):
            if text.startswith(tuple(_CLAUSES)):
                yield from self.clause(ind, text)
                return None
            if text.startswith("elif"):
                lead, text, clause = "el", text[2:], "elif"
            code = text + " pass"
        try:
            body = compile(code, "", "exec", ast.PyCF_ONLY_AST).body
        except _UNPARSED:
            body = None
        if not body:
            # a statement that does not parse mints nothing, except a
            # Python 2 `print x, y`: it lowers to its operand expression
            if text.startswith("print") and text[5:6].isspace():
                if _expr(text[5:].strip()) is not None:
                    yield from self(ind + text[5:].strip())
            return None
        st = _Stmt(body[-1], ind, ind + lead, text, code is not text, clause)
        if len(body) > 1 or text.endswith(";"):
            for s in body[:-1]:
                yield from self(ind + st.seg(s))
            return ind + st.seg(body[-1])
        out = self.lower(st) if lowered else None
        if out is None:
            yield st
            return None
        return out if type(out) is str else (yield from out)

    @staticmethod
    def clause(ind, text):
        """An `else:`/`try:`/`except …:`/`finally:` header, parsed inside
        a statement it completes; bodiless, so its node is None."""
        for kw, wrap in _CLAUSES.items():
            if text.startswith(kw):
                if _expr(wrap.format(text), "exec") is not None:
                    yield _Stmt(None, ind, ind, text, True, kw)
                return

    def lower(self, st):
        """The lowering of one parsed statement: the statement it
        rewrites to, a generator like `step`'s, or None when it is
        already a core form."""
        s = st.node
        walrus = ":=" in st.text and min(
            ((n, p) for n, p in _nodes(s) if type(n) is ast.NamedExpr),
            key=lambda np: _pos(np[0]), default=None)
        if walrus:
            w, p = walrus
            return self.splice(st, [(st.src(w.value, w), st.extent(w, p),
                                     w.target.id)])
        case = _CASES.get(type(s))
        out = case(self, st, *self.env()) if case else None
        if out is None and not st.ind and "lambda" in st.text:
            lam = min(_arg_lambdas(s), key=_pos, default=None)
            params = lam and st.params(lam, defaults=False)
            if params is not None:
                out = self.lift(st, lam, params)
        return out

    def annotated(self, st, *_):
        s = st.node
        if s.value is None or type(s.target) is not ast.Name:
            return None
        return f"{st.ind}{s.target.id} = {st.src(s.value, s)}"

    def condition(self, st, tracked, *_):
        s = st.node
        if not st.header:
            return None
        hits = (_hoists(s.iter, tracked, calls=False)
                if type(s) is ast.For else _hoists(s.test, tracked))
        return self.hoist(st, hits) if hits else None

    def with_items(self, st, *_):
        s = st.node
        if not (st.header and len(s.items) > 1 and all(
                type(it.optional_vars) is ast.Name for it in s.items)):
            return None
        return itertools.chain.from_iterable(
            self(f"{st.ind}with {st.text[a:b]}:")
            for a, b in ((st.span(it.context_expr)[0],
                          st.span(it.optional_vars)[1]) for it in s.items))

    def expr(self, st, *env):
        return self.postfix(st, st.node.value, False, *env)

    def assign(self, st, tracked, members, fields, defs):
        s, ts = st.node, st.node.targets
        t, v = ts[0], s.value
        if type(t) is ast.Name:
            cond = "else" in st.text and min(
                (n.test for n, _ in _nodes(v) if type(n) is ast.IfExp),
                key=_pos, default=None)
            hits = (_hoists(cond, tracked, calls=False)
                    if cond and not _has([cond], ast.Lambda) else ())
            if hits:
                return self.hoist(st, hits)
            if len(ts) > 1 and type(ts[1]) is ast.Name:
                m = 1  # the last of the leading name targets
                while m + 1 < len(ts) and type(ts[m + 1]) is ast.Name:
                    m += 1
                return itertools.chain(
                    self(st.ind + st.text[st.span(ts[m])[0]:]),
                    *(self.core(f"{st.ind}{ts[i].id} = {ts[i + 1].id}")
                      for i in range(m - 1, -1, -1)))
        if len(ts) > 1:
            return None
        if type(t) is ast.Name:
            out = self.postfix(st, v, True, tracked, members, fields, defs)
            if out is not None:
                return out
        if (type(v) is ast.BinOp and isinstance(v.op, _HOIST_BINOPS)
                and (type(t) is ast.Name
                     or (type(t) is ast.Subscript
                         and type(t.value) is ast.Name and _flat(t)))):
            ops = [v.left, v.right]
            subs = [o for o in ops if type(o) is ast.Subscript]
            if (subs and all(map(_operand, ops))
                    and not ((type(t) is ast.Name or _str_key(t))
                             and all(map(_str_key, ops))
                             and type(v.op) is not ast.Mod)):
                return self.hoist(st, subs)
        if type(t) is ast.Name:
            if type(v) is ast.Subscript and type(v.value) is ast.Name:
                hits = _hoists(v.slice, tracked)
                if hits:
                    return self.hoist(st, hits)
            params = (st.params(v) if type(v) is ast.Lambda and not st.ind
                      else None)
            if params is not None:
                return itertools.chain(
                    self.core(f"def {t.id}({params}):"),
                    self.core(f"    return {st.src(v.body, v)}"))
        if _str_key(t) and _subscr_chain(v):
            return self.hoist(st, [v])
        if (type(t) is ast.Tuple and type(v) is ast.Tuple
                and len(v.elts) == len(t.elts) > 1
                and all(type(e) is ast.Name for e in t.elts)
                and not any(type(e) is ast.Starred for e in v.elts)
                and not (st.grouped(t) or st.grouped(v))):
            return self.unpack(st.ind, [e.id for e in t.elts],
                               [st.src(e, v) for e in v.elts])
        return None

    def aug_assign(self, st, *_):
        s = st.node
        t, v = s.target, s.value
        if not ((type(t) is ast.Attribute and type(t.value) is ast.Name)
                or _str_key(t)):
            return None
        a, b = st.extent(v, s)
        op = st.text[st.span(t)[1]:a].strip(" \t\n()")[:-1]  # `+=` → `+`
        rhs = st.text[a:b]
        if rhs != st.seg(v) or not (
                _dotted(v) or _number(v)
                or (type(v) is ast.Constant and type(v.value) is str)
                or (type(v) is ast.Subscript and _dotted(v.value)
                    and _flat(v))
                or (type(v) is ast.UnaryOp and type(v.op) is ast.USub
                    and _number(v.operand))):
            rhs = f"({rhs})"
        return self.aug(st.ind, st.seg(t), op, rhs)

    def postfix(self, st, value, assigned, tracked, members, fields, defs):
        """Split an assigned (``x = …``) or bare postfix chain."""
        root, links = _chain(value)
        if type(root) is not ast.Name or not links:
            return None
        base = root.id
        plain = base in tracked and base not in fields and base not in members
        k = _hops(links)
        call = links[k] if k < len(links) and type(links[k]) is ast.Call \
            else None
        if (assigned and call and k + 1 < len(links)
                and type(links[k + 1]) is ast.Subscript
                and _flat(call) and _tail(links[k + 1:])):
            return self.hoist(st, [call])
        if call is value:
            args = call.args + [kw.value for kw in call.keywords if kw.arg]
            if call.keywords:
                args.sort(key=_pos)
            hits = [a for a in args if not k and base in defs
                    and type(a) is ast.Call and _dotted(a.func) and _flat(a)]
            hits = hits or [a for a in args if type(a) in (
                ast.Attribute, ast.Call) and _subscr_chain(a)]
            if hits:
                return self.hoist(st, hits)
            if plain and 2 <= k <= _MAX_HOPS and _flat(call):
                return self.hoist(st, links[:1])
        if (assigned and 2 <= k == len(links) <= _MAX_HOPS
                and base in tracked):
            return self.hoist(st, links[:1])
        j = _access(links)
        if (0 <= j < len(links) - 1
                and (plain or assigned and base not in members)
                and _flat(links[j]) and _tail(links[j + 1:])):
            return self.hoist(st, [links[j]])
        return None

    def splice(self, st, hoists):
        """Assign each hoisted ``(text, span, name)`` to ``name`` (a fresh
        temp when None) just before the statement; return the statement
        with each span replaced by its name."""
        text, edits = st.text, []
        for rhs, span, name in hoists:
            name = name or self.tmp()
            yield from self(f"{st.ind}{name} = {rhs}")
            edits.append((span, name))
        for (a, b), name in sorted(edits, reverse=True):
            text = text[:a] + name + text[b:]
        return st.pre + text

    def hoist(self, st, nodes):
        return self.splice(st, [(st.seg(n), st.span(n), None)
                                for n in nodes])

    def aug(self, ind, target, op, rhs):
        tmp = self.tmp()
        yield from self(f"{ind}{tmp} = {target}")
        return f"{ind}{target} = {tmp} {op} {rhs}"

    def unpack(self, ind, names, parts):
        base = self.tmp("unp")
        for i, part in enumerate(parts):
            yield from self(f"{ind}{base}{i} = {part}")
        for i, name in enumerate(names):
            yield from self.core(f"{ind}{name} = {base}{i}")

    def lift(self, st, lam, params):
        name = self.tmp("lam")
        yield from self.core(f"def {name}({params}):")
        yield from self.core(f"    return {st.src(lam.body, lam)}")
        a, b = st.span(lam)
        return st.pre + st.text[:a] + name + st.text[b:]


#: the statement-kind cases of the lowering
_CASES = {
    ast.AnnAssign: _Lowering.annotated,
    ast.If: _Lowering.condition, ast.While: _Lowering.condition,
    ast.For: _Lowering.condition, ast.With: _Lowering.with_items,
    ast.Assign: _Lowering.assign, ast.AugAssign: _Lowering.aug_assign,
    ast.Expr: _Lowering.expr,
}


def build_flow_catalog(records: list[dict]):
    """(qualified-name index, class→methods, module set, tail index) for
    recognition.  ``tail_first`` maps a bare tail token to the FIRST
    catalog entry whose qualified name ends in it — precomputed here so
    the per-call suffix probe is O(1) instead of an O(|catalog|) sweep
    (the reference's real catalog has 5.8M methods, `docs/index.md:40`;
    a linear scan per candidate call would be a 100×-scale killer)."""
    by_name: dict[str, list[str]] = {}
    methods_of: dict[str, dict[str, list[str]]] = {}
    modules: set[str] = set()
    tail_first: dict[str, tuple[str, list[str]]] = {}
    for rec in records:
        name = entity_name(rec)
        path = name.split(".")
        by_name[name] = path
        modules.add(path[0])
        if entity_type(rec) == "method":
            methods_of.setdefault(rec["klass"], {})[rec["function"]] = path
        tail = path[-1]
        if tail not in tail_first:
            tail_first[tail] = (name, path)
    return by_name, methods_of, modules, tail_first


def extract_page_flow_nodes(
    url: str, codes: list[str], flow_catalog
) -> list[dict]:
    """Straight-line per-page flow-node extraction (the worker the Arrow
    UDF batches over; also callable directly for golden-oracle paths).
    ``flow_catalog`` = `build_flow_catalog(records)`."""
    return _Tracker(url, flow_catalog).page(codes)


def extract_page_expressions(
    url: str, codes: list[str], flow_catalog
) -> list[dict]:
    """Dataflow-normalized semForms expression extraction: the reference
    mines expressions out of analysis output
    (`/root/reference/semForms/automl_eval/semforms.py:54-78`).  Runs the
    flow-node tracking and records each binop-over-subscript-reads
    assignment whose receivers are all tracked, canonized by producer
    identity in first-occurrence order (``df0``, ``df1``, …): aliases
    unify (`h = df; h['a'] / df['b']` → `df0['a'] / df0['b']`), distinct
    frames stay distinct, untracked receivers mine nothing.  Returns
    ``{"code", "bases"}`` dicts, ``bases`` the dotted producer path per
    frame."""
    exprs: list[dict] = []
    _Tracker(url, flow_catalog, exprs).page(codes)
    return exprs


#: sentinel `path_end` for a page the fault barrier dropped
PAGE_ERROR_SENTINEL = "__page_error__"


def _page_error_row(url: str, exc: Exception) -> dict:
    """Sentinel row for a page whose extraction raised: `node_number = -1`,
    exception class in `normalized_label`, truncated message in
    `source_text`; counted by the caller's `observe()`, then filtered."""
    return {
        "graph_uri": url, "node_number": -1, "path": None,
        "path_end": PAGE_ERROR_SENTINEL,
        "normalized_label": type(exc).__name__,
        "is_import": None, "is_slice": None, "flows_to": None,
        "immediately_precedes": None, "reads": None, "writes": None,
        "constant_positional_args": None, "constant_named_args": None,
        "value_names": None, "source_location": None,
        "source_text": str(exc)[:500], "source_lines": None,
    }


def _extract_page_safe(url, codes, flow_catalog,
                       extractor=None) -> list[dict]:
    """Per-page fault barrier: a page that breaks the tracker yields ONE
    sentinel row instead of killing the task.  `extract_page_flow_nodes`
    itself keeps raising (tests want hard failures)."""
    try:
        return (extractor or extract_page_flow_nodes)(url, codes, flow_catalog)
    except Exception as exc:  # noqa: BLE001 — barrier by design
        return [_page_error_row(url, exc)]


def extract_flow_nodes(qa: DataFrame, catalog_records: list[dict],
                       error_observation: Observation | None = None) -> DataFrame:
    """(url, codes) → ANALYSIS_NODES_SCHEMA rows, graph_uri = page url.
    A page whose extraction raises contributes a sentinel row, filtered
    before return; `error_observation` (when given) receives
    ``pages_failed`` and ``rows_seen`` once an action has run the result
    (`observe()` lineage, as in `materialize.py`)."""
    flow_catalog = build_flow_catalog(catalog_records)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in ANALYSIS_NODES_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for url, codes in zip(pdf["url"], pdf["codes"]):
                rows.extend(
                    _extract_page_safe(
                        url, list(codes) if codes is not None else [], flow_catalog
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    nodes = qa.select("url", "codes").mapInPandas(run, schema=ANALYSIS_NODES_SCHEMA)
    if error_observation is not None:
        nodes = nodes.observe(
            error_observation,
            F.count(F.when(F.col("node_number") < 0, 1)).alias("pages_failed"),
            F.count(F.lit(1)).alias("rows_seen"),
        )
    return nodes.filter("node_number >= 0")


#: interactive-transcript prompts — plain REPL and IPython
_REPL_PS1_RE = re.compile(r"^\s*>>>(?: |$)")
_REPL_PS2_RE = re.compile(r"^\s*\.\.\.(?: |:|$)")
_IPY_IN_RE = re.compile(r"^\s*In \[\d+\]: ?")
_IPY_CONT_RE = re.compile(r"^\s*\.{3,}: ?")


def _strip_repl_transcript(lines: list[str]) -> list[str]:
    """Keep only the typed lines of a REPL (`>>> `/`... `) or IPython
    (`In [n]:`/`...:`) transcript, prompt-stripped and length-preserving
    (output lines blank); a block without prompts passes through.  (The
    reference stores forum snippets unanalyzed; without this repair a
    transcript would yield nothing.)"""
    if any(_REPL_PS1_RE.match(l) for l in lines):
        return [  # length-preserving: line numbers stay faithful
            l[m.end():] if (m := _REPL_PS1_RE.match(l)
                            or _REPL_PS2_RE.match(l)) else ""
            for l in lines
        ]
    if any(_IPY_IN_RE.match(l) for l in lines):
        return [
            l[m.end():] if (m := _IPY_IN_RE.match(l)
                            or _IPY_CONT_RE.match(l)) else ""
            for l in lines
        ]
    return lines


# ---------------------------------------------------------------------------
# the tracker: one handler per statement node
# ---------------------------------------------------------------------------
#: binary operators of the binop-propagation and `.expr` argument shapes
_PROPAGATE_OPS = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod,
                  ast.BitAnd, ast.BitOr)
#: the operators of the semForms expression shape, by spelling
_EXPR_OPS = {ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.Div: "/"}
_COMPS = (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)
#: the first and the last operand of an expression's text
_FIRST = {ast.BinOp: lambda n: n.left, ast.Compare: lambda n: n.left,
          ast.BoolOp: lambda n: n.values[0], ast.IfExp: lambda n: n.body,
          ast.Subscript: lambda n: n.value, ast.Attribute: lambda n: n.value,
          ast.Call: lambda n: n.func}
_LAST = {ast.BinOp: lambda n: n.right, ast.BoolOp: lambda n: n.values[-1],
         ast.Compare: lambda n: n.comparators[-1],
         ast.IfExp: lambda n: n.orelse, ast.UnaryOp: lambda n: n.operand}
#: container literals (a tuple counts only in parentheses of its own)
_LITERALS = (ast.List, ast.Tuple, ast.Set, ast.Dict, *_COMPS)


def _temp(name: str, kind: str) -> bool:
    """A lowering temp: `_subN_`, or `_unpN_i` for ``kind`` "unp"."""
    n, sep, i = name[len(kind) + 1:].partition("_")
    return (name.startswith(f"_{kind}") and n.isdecimal() and bool(sep)
            and (i.isdecimal() if kind == "unp" else not i))


def _names(st, node):
    """The names a target binds: a name, or a tuple of names without
    parentheses of its own; else None."""
    if type(node) is ast.Name:
        return [node.id]
    if (type(node) is ast.Tuple and node.elts and not st.grouped(node)
            and all(type(e) is ast.Name for e in node.elts)):
        return [e.id for e in node.elts]
    return None


def _name_like(node) -> bool:
    """What `return NAME` returns: a name, or a word constant."""
    return type(node) is ast.Name or (
        type(node) is ast.Constant
        and (node.value is None or type(node.value) in (bool, int)))


def _leaves(node, ops):
    """The operands of a chain of ``ops`` binary operators (boolean
    operators for ``ops`` None), left to right."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        if ops is None and type(n) is ast.BoolOp:
            todo.extend(reversed(n.values))
        elif ops and type(n) is ast.BinOp and isinstance(n.op, ops):
            todo += [n.right, n.left]
        else:
            out.append(n)
    return out


class _Stmt:
    """A parsed statement: node, indentation, prefix the parse left off
    (``ind`` + `el` of an `elif`), parsed text, block-header flag and
    clause keyword (`elif`, or a bodiless `else`/`try`/`except`/
    `finally` with node None).  Offsets are characters of ``text``."""
    __slots__ = ("node", "ind", "pre", "text", "header", "clause", "_bols")

    def __init__(self, node, ind, pre, text, header, clause=""):
        self.node, self.ind, self.pre, self.text = node, ind, pre, text
        self.header, self.clause, self._bols = header, clause, None

    def span(self, node):
        """Character offsets of ``node``: ast counts lines at ``\\r\\n``,
        ``\\r`` and ``\\n`` and columns in UTF-8 bytes."""
        if self._bols is None:
            text = self.text
            if "\r" in text:  # same length, ast's line breaks
                text = text.replace("\r\n", " \n").replace("\r", "\n")
            bols, i = [0], text.find("\n")
            while i >= 0:
                bols.append(i + 1)
                i = text.find("\n", i + 1)
            self._bols = (bols, None if text.isascii() else text)
        bols, wide = self._bols
        a, b = bols[node.lineno - 1], bols[node.end_lineno - 1]
        if wide is None:
            return a + node.col_offset, b + node.end_col_offset
        return (a + len(wide[a:].encode()[:node.col_offset].decode()),
                b + len(wide[b:].encode()[:node.end_col_offset].decode()))

    def extent(self, node, parent=None):
        """The span of ``node`` widened over the parentheses that only
        group it: those inside ``parent``'s own brackets (the parentheses
        of a call are not its argument's)."""
        text, n = self.text, len(self.text)
        (a, b), lo = self.span(node), None
        while True:
            i, j = a - 1, b
            while i >= 0 and text[i].isspace():
                i -= 1
            if i < 0 or text[i] != "(":  # the common case: no parenthesis
                return a, b
            if lo is None:
                lo, hi = self.span(parent) if parent is not None else (0, n)
                if type(parent) is ast.Call and node is not parent.func:
                    lo, hi = text.index("(", self.span(parent.func)[1]) + 1, \
                        hi - 1
            while j < n and text[j].isspace():
                j += 1
            if not (lo <= i and j < hi and text[j] == ")"):
                return a, b
            a, b = i, j + 1

    def seg(self, node):
        a, b = self.span(node)
        return self.text[a:b]

    def src(self, node, parent=None):
        """The text of ``node``'s extent in ``parent`` (None: the
        statement)."""
        a, b = self.extent(node, parent)
        return self.text[a:b]

    def grouped(self, tup):
        """A tuple written in parentheses of its own."""
        return self.extent(tup.elts[0], tup)[0] > self.span(tup)[0]

    def wrapped(self, node, parent=None):
        """``node`` in parentheses that only group it."""
        return self.extent(node, parent)[0] != self.span(node)[0]

    def literal(self, node, parent):
        """``(is_str, text)`` of a plain literal as written, not in
        parentheses of its own, else None: a string without prefix or
        triple quotes, its own escaped quote unescaped (`'it\\'s'` →
        `it's`), or a number of digits with optional fraction and sign."""
        kind = type(node)
        if kind is ast.UnaryOp and type(node.op) is ast.USub:
            kind = type(node.operand)
        if kind is not ast.Constant:
            return None
        text = self.src(node, parent)
        q, body = text[:1], text[1:-1]
        if q in ("'", '"'):
            if len(text) < 2 or text[-1] != q:
                return None
            i = body.find(q)
            while i >= 0:  # only an escaped quote of its own kind
                if (len(body[:i]) - len(body[:i].rstrip("\\"))) % 2 == 0:
                    return None
                i = body.find(q, i + 1)
            return True, body.replace("\\" + q, q)
        whole, dot, frac = (text[1:] if q == "-" else text).partition(".")
        if (text.isascii() and whole.isdecimal()
                and (not dot or frac.isdecimal())):
            return False, text
        return None

    def params(self, lam, defaults=True):
        """The parameter text of ``lam`` for a `def` line, or None when a
        default is not a plain name or constant (or, without
        ``defaults``, when there is any default)."""
        ds = [d for d in (*lam.args.defaults, *lam.args.kw_defaults) if d]
        if ds and not (defaults and all(type(d) in (ast.Name, ast.Constant)
                                        for d in ds)):
            return None
        a = self.span(lam)[0] + len("lambda")
        b = self.extent(lam.body, lam)[0]
        return self.text[a:b].rstrip()[:-1].strip()


class _Arg(NamedTuple):
    """A call argument: key None for a positional, `*` or `**` one."""
    node: ast.expr
    key: str | None
    splat: bool
    start: int
    grouped: bool


def _call_args(st, call) -> list[_Arg]:
    items = [(a.value, None, True) if type(a) is ast.Starred
             else (a, None, False) for a in call.args]
    if call.keywords:
        items += [(k.value, k.arg, k.arg is None) for k in call.keywords]
        items.sort(key=lambda it: _pos(it[0]))
    out = []
    for node, key, splat in items:
        a = st.extent(node, call)[0]
        out.append(_Arg(node, key, splat, a, a != st.span(node)[0]))
    return out


#: what a scan does not descend into (names, constants and plain field
#: values), and the fields it visits per node type
_SCAN_LEAVES = frozenset((ast.Name, ast.Constant, ast.Pass, str, int,
                          type(None)))
_SCAN_FIELDS: dict[type, tuple] = {}


def _scan(st, roots):
    """A statement's named calls ``(callee text start, call, callee
    text)`` in source order, the ids of calls an attribute is read off
    (`X(a).m`), and its `v.attr` reads that are neither called nor read
    further, in source order."""
    calls, chained, reads, inner = [], set(), [], set()
    todo = list(roots) if "(" in st.text or "." in st.text else []
    pop, push, extend = todo.pop, todo.append, todo.extend
    while todo:
        n = pop()
        kind = type(n)
        if kind is ast.Call:
            f, last, dots = n.func, None, []
            while type(f) is ast.Attribute:
                dots.append(f.attr)
                last, f = f, f.value
            inner.add(id(n.func))
            if type(f) is ast.Name:
                dots.append(f.id)
                calls.append((st.span(f)[0], n, ".".join(reversed(dots))))
            elif last is not None:
                calls.append((st.span(last)[1] - len(last.attr), n,
                              ".".join(reversed(dots))))
        elif kind is ast.Attribute:
            v = n.value
            inner.add(id(v))
            if type(v) is ast.Name:
                reads.append(n)
                continue
            if type(v) is ast.Call:
                chained.add(id(v))
        elif kind in _SCAN_LEAVES:
            continue
        fields = _SCAN_FIELDS.get(kind)
        if fields is None:
            fields = _SCAN_FIELDS[kind] = tuple(
                f for f in kind._fields if f not in ("ctx", "op", "ops"))
        for f in fields:
            v = getattr(n, f)
            if type(v) is list:
                extend(v)
            else:
                push(v)
    calls.sort(key=lambda c: c[0])
    reads = sorted((r for r in reads if id(r) not in inner), key=_pos)
    return calls, chained, reads


class _Line:
    """Per-statement scratch of the call pass."""
    __slots__ = ("st", "lhs", "rhs_start", "scan", "chained", "reads",
                 "starts", "calls", "klass", "nested", "exprs", "def_args",
                 "binds", "chain", "inst", "made")

    def __init__(self, st, lhs, rhs_start, scan):
        self.st, self.lhs, self.rhs_start = st, lhs, rhs_start
        self.scan, self.chained, self.reads = scan
        self.starts = {c[0] for c in self.scan}
        self.calls, self.klass = {}, {}  # chain start -> final node, class
        self.nested: list = []    # (inner start, outer node, ordinal)
        self.exprs: list = []     # (outer node, ordinal, BinOp)
        self.def_args: list = []  # (inner start, [(node, pos)])
        self.binds: list = []     # (var, node, klass), applied after
        self.chain = None         # (call, node, klass, chain start)
        self.inst = None          # (ctor call, class, anonymous instance)
        self.made = False


def _def_record(name, params):
    return {"name": name, "params": params, "param_uses": {}, "ret": None,
            "ret_klass": None, "ret_tuple": None}


def _def_params(s):
    """The parameter names of a `def name(params):` header (no return
    annotation, not async), or None."""
    if type(s) is not ast.FunctionDef or s.returns is not None:
        return None
    a = s.args
    return [p.arg for p in (*a.posonlyargs, *a.args, *a.kwonlyargs)]


class _Env:
    """The five binding maps an arm may rewrite, copied at a fork and
    merged at its join: var → producer node / constructed class /
    container members / element members (only these resolve methods
    through members), and obj → field → (producer, class)."""
    __slots__ = ("producer", "klass", "members", "elem", "fields")

    def __init__(self, producer, klass, members, elem, fields):
        self.producer, self.klass, self.members = producer, klass, members
        self.elem, self.fields = elem, fields

    def maps(self):
        return (self.producer, self.klass, self.members, self.elem,
                self.fields)

    def snap(self):
        return (dict(self.producer), dict(self.klass),
                {k: list(v) for k, v in self.members.items()},
                {k: list(v) for k, v in self.elem.items()},
                {k: dict(v) for k, v in self.fields.items()})

    def restore(self, snap):
        for live, saved in zip(self.maps(), snap):
            live.clear()
            live.update(saved)

    def scoped(self, params):
        """A def body's env: the enclosing bindings minus the parameters
        (the element map stays shared)."""
        def drop(live, copy=None):
            return {k: copy(v) if copy else v for k, v in live.items()
                    if k not in params}

        return _Env(drop(self.producer), drop(self.klass),
                    drop(self.members, list), self.elem,
                    drop(self.fields, dict))

    def bind(self, v, producer, klass=None):
        self.producer[v] = producer
        self.members.pop(v, None)
        if klass:
            self.klass[v] = klass
        else:
            self.klass.pop(v, None)

    def union(self, v, members, elem=True):
        self.members[v] = members
        if elem:
            self.elem[v] = members
        self.producer.pop(v, None)
        self.klass.pop(v, None)

    def phi(self, paths):
        """SSA phi at a join: agreeing paths stay precise, others union
        into an element set; fields survive where every path agrees."""
        names: set[str] = set()
        for pr, _kl, mem, _el, _fl in paths:
            names |= set(pr) | set(mem)
        for live in self.maps()[:4]:
            live.clear()
        for v in sorted(names):
            bound = []
            for pr, kl, mem, el, _fl in paths:
                if v in pr:
                    bound.append(("P", pr[v], kl.get(v)))
                elif v in mem:
                    bound.append(("M", tuple(mem[v]),
                                  tuple(el.get(v, ())) == tuple(mem[v])))
            kind = bound[0]
            if all(r == kind for r in bound):
                if kind[0] == "P":
                    self.producer[v] = kind[1]
                    if kind[2] is not None:
                        self.klass[v] = kind[2]
                else:
                    self.members[v] = list(kind[1])
                    if kind[2]:
                        self.elem[v] = self.members[v]
                continue
            union: list[int] = []
            for r in bound:
                for p in ([r[1]] if r[0] == "P" else r[1]):
                    if p not in union:
                        union.append(p)
            self.members[v] = union
            # a phi of plain containers stays a container
            if any(r[0] == "P" or r[2] for r in bound):
                self.elem[v] = union
        objs = set().union(*(p[4] for p in paths))
        self.fields.clear()
        for o in objs:
            per = [p[4].get(o) for p in paths]
            if all(d is not None for d in per):
                common = {f: t for f, t in per[0].items()
                          if all(d.get(f) == t for d in per[1:])}
                if common:
                    self.fields[o] = common


class _Tracker:
    """Per-page def-use tracking, one handler per statement node."""

    def __init__(self, url, flow_catalog, exprs=None):
        self.url, self.exprs = url, exprs
        (self.by_name, self.methods_of, self.modules,
         self.tail_first) = flow_catalog
        self.nodes: list[dict] = []
        self.idx_of: dict[int, int] = {}  # node number -> index in nodes
        self.counter = 0

    def page(self, codes):
        for code in codes or []:
            self.snippet(code)
        return self.finish()

    def snippet(self, code):
        self.env = _Env({}, {}, {}, {}, {})
        # G4: `m = obj.meth` -> (read node, receiver, method path), valid
        # while m's producer still IS the read node
        self.bound: dict[str, tuple] = {}
        self.node_klass: dict[int, str] = {}  # node -> class it constructs
        self.prev: list[int] = []  # indices of the CFG frontier
        self.frames: list[dict] = []  # open if/while/for/try, innermost last
        self.local_defs, self.local_classes = {}, {}  # name -> record
        self.cur_def = self.cur_class = None
        self.outer: tuple | None = None  # (env, prev) around a def body
        self.inst_methods: dict[str, list] = {}  # var -> its method keys
        self.aliases: dict[str, str] = {}  # binding -> canonical prefix
        self.alias_src: dict[str, int] = {}  # binding -> import node
        self.inst_counter = self.import_tree = 0
        lower = _Lowering(lambda: (self.env.producer, self.env.members,
                                   self.env.fields, self.local_defs))
        lines = _strip_repl_transcript(code.split("\n"))
        for self.ln, self.phys, stmt in _logical_lines(lines):
            for st in lower(stmt):
                self.statement(st)
        if self.cur_def is not None:
            self.end_def()
        self.cur_class = None

    def finish(self):
        """Sweep G4-collapsed reads (predecessors inherit successors; node
        numbers keep gaps, as after removeNodeAndEdges) and `_subN_` names."""
        nodes = self.nodes
        dead = {n["node_number"]: n["immediately_precedes"]
                for n in nodes if n.get("_dead")}

        def live(num, seen):
            out = []
            for t in dead.get(num, ()):
                if t not in seen:
                    seen.add(t)
                    out += live(t, seen) if t in dead else [t]
            return out

        if dead:
            for n in nodes:
                ip = n["immediately_precedes"]
                if not n.get("_dead") and any(d in dead for d in ip):
                    out = []
                    for d in ip:
                        for t in live(d, {d}) if d in dead else [d]:
                            if t not in out and t != n["node_number"]:
                                out.append(t)
                    n["immediately_precedes"] = out
            nodes = [n for n in nodes if not n.pop("_dead", False)]
        for n in nodes:
            if n["value_names"] and any(v[:4] == "_sub" and _temp(v, "sub")
                                        for v in n["value_names"]):
                n["value_names"] = [v for v in n["value_names"]
                                    if not _temp(v, "sub")]
        return nodes

    def node(self, path, text, is_import=False, ln=None, phys=None):
        ln = self.ln if ln is None else ln
        phys = self.phys if phys is None else phys
        num, nodes = self.counter, self.nodes
        n = {
            "graph_uri": self.url, "node_number": num, "path": path,
            "path_end": path[-1], "normalized_label": ".".join(path),
            "is_import": is_import, "is_slice": False, "flows_to": {},
            "immediately_precedes": [], "reads": [], "writes": [],
            "constant_positional_args": {}, "constant_named_args": {},
            "value_names": [], "source_location": {
                "first_line": ln + 1, "last_line": ln + len(phys),
                "first_col": 0, "last_col": len(phys[-1]),
                "first_offset": None, "last_offset": None, "url": self.url},
            "source_text": text, "source_lines": list(phys)}
        self.counter += 1
        for p in self.prev:
            nodes[p]["immediately_precedes"] = (
                nodes[p]["immediately_precedes"] + [num])
        self.prev = [len(nodes)]
        self.idx_of[num] = len(nodes)
        nodes.append(n)
        return n

    def at(self, num):
        return self.nodes[self.idx_of[num]]

    def flow(self, src, key, dst):
        n = self.at(src)
        n["flows_to"] = _append_flow(n["flows_to"], str(key), dst)

    def read(self, container, field, text, path=None):
        """A field-read node of ``container``'s value, fed at DATA-0."""
        base = self.at(container)["path"] if path is None else path
        r = self.node(list(base) + [field], text)
        r["reads"] = [{"container": [container], "field": field}]
        self.flow(container, 0, r["node_number"])
        return r

    def import_chain(self, segs):
        """The import node plus a member-read per further segment."""
        num = self.node([segs[0]], segs[0], is_import=True)["node_number"]
        for i, seg in enumerate(segs[1:], 1):
            r = self.read(num, seg, seg, segs[:i])
            r["constant_positional_args"]["1"] = seg
            num = r["node_number"]
        return num

    def push(self, env0=None, is_try=False):
        fr = {"indent": self.indent, "pre": list(self.prev), "tails": [],
              "has_else": is_try, "env0": env0 or self.env.snap(),
              "env_tails": []}
        if is_try:
            fr["is_try"] = True
        self.frames.append(fr)

    @staticmethod
    def arm_kind(fr, st):
        """"arm"/"fin" when ``st`` switches ``fr``: try frames take
        except/else and finally, if/while/for frames elif/else."""
        if fr.get("is_try"):
            if st.clause == "finally":
                return "fin"
            return "arm" if st.clause in ("except", "else") else None
        return "arm" if st.clause in ("elif", "else") else None

    def join(self, fr, frontier):
        """The arm tails (and pre, when the chain can fall through), with
        the bindings phi'd over the same paths; a dead arm adds neither."""
        tails, paths = list(fr["tails"]), list(fr["env_tails"])
        if not fr.get("dead"):
            tails.append(frontier)
            paths.append(self.env.snap())
        if not fr["has_else"]:
            tails.append(fr["pre"])
            paths.append(fr["env0"])
        joined: list[int] = []
        for t in tails:
            for p in t:
                if p not in joined:
                    joined.append(p)
        if not paths:  # every arm exited: unreachable, keep the pre state
            paths, joined = [fr["env0"]], joined or list(fr["pre"])
        self.env.phi(paths)
        return joined

    def mark_dead(self):
        """A `return`/`raise` kills the innermost non-try arm's path."""
        if self.frames and not self.frames[-1].get("is_try"):
            if self.indent > self.frames[-1]["indent"]:
                self.frames[-1]["dead"] = True

    def drain(self):
        while self.frames:
            self.prev = self.join(self.frames.pop(), self.prev)

    def frame(self, st):
        """G5: a dedent joins the frames it leaves, an arm keyword at a
        frame's indent switches arms, a header opens one.  True if used."""
        frames, indent = self.frames, self.indent
        while frames and indent <= frames[-1]["indent"]:
            if indent == frames[-1]["indent"] and self.arm_kind(
                    frames[-1], st):
                break
            self.prev = self.join(frames.pop(), self.prev)
        if frames and indent == frames[-1]["indent"]:
            top = frames[-1]
            kind = self.arm_kind(top, st)
            if kind == "arm":
                # each arm forks from the pre frontier and env
                if not top.get("dead"):
                    top["tails"].append(self.prev)
                    top["env_tails"].append(self.env.snap())
                top["dead"] = False
                top["has_else"] = top.get("is_try", False) or (
                    st.clause == "else")  # a try body always runs
                self.prev = list(top["pre"])
                self.env.restore(top["env0"])
                return True
            if kind == "fin":  # finally joins; its body chains off it
                self.prev = self.join(frames.pop(), self.prev)
                return True
        if not indent or self.cur_def is not None or (
                frames and self.cur_class is None
                and indent > frames[-1]["indent"]):
            if st.header and st.clause != "elif" and type(st.node) in (
                    ast.If, ast.While):
                self.push()
                return True
            if st.clause == "try":
                self.push(is_try=True)
                return True
        return False

    def open_def(self, name, params, env, method=False):
        """A def body: ``env`` minus the params, and a chain of its own."""
        self.cur_def = _def_record(name, params)
        self.env, self.prev = env.scoped(set(params)), []
        if method:  # __init__'s self stores load eagerly in later methods
            self.env.fields["self"] = dict(self.cur_class["fields"])

    def close_def(self):
        d, cls = self.cur_def, self.cur_class
        if cls is None:
            self.local_defs[d["name"]] = d
            return
        rec = dict(d, params=[p for p in d["params"] if p != "self"])
        if d["name"] == "__init__":
            cls["fields"] = dict(self.env.fields.get("self", {}))
            self.local_defs[cls["name"]] = rec
        else:
            cls["methods"][d["name"]] = rec

    def end_def(self):
        """A dedent or the snippet's end closes the def (and its class)."""
        self.drain()
        self.close_def()
        self.cur_class = None
        self.env, self.prev = self.outer
        self.cur_def = self.outer = None

    def class_header(self, s):
        """A base naming an earlier local class seeds the subclass's
        fields, methods and ctor record."""
        base = s.bases[0].id if s.bases and type(s.bases[0]) is ast.Name \
            else None
        base = self.local_classes.get(base) if base else None
        self.cur_class = self.local_classes[s.name] = {
            "name": s.name,
            "fields": dict(base["fields"]) if base else {},
            "methods": dict(base["methods"]) if base else {},
        }
        # instantiation dispatches through the local-def machinery even
        # without an __init__ (closing one overwrites the record)
        if base is not None and base["name"] in self.local_defs:
            self.local_defs[s.name] = dict(self.local_defs[base["name"]],
                                           name=s.name)
        else:
            self.local_defs[s.name] = _def_record(s.name, [])

    def returns(self, s):
        """`return self.f`, `return v` and `return a, b` in a def body;
        True when handled (a returned call takes the call pass)."""
        d, v, env = self.cur_def, s.value, self.env
        if (self.cur_class is not None and type(v) is ast.Attribute
                and type(v.value) is ast.Name and v.value.id == "self"):
            ent = env.fields.get("self", {}).get(v.attr)
            if ent is not None:
                d["ret"], d["ret_klass"] = ent
                d.setdefault("ret_set", []).append(ent)
        elif v is not None and _name_like(v):
            # every return lands in ret_set: arms' returns phi at the site
            name = v.id if type(v) is ast.Name else None
            d["ret"], d["ret_klass"] = (env.producer.get(name),
                                        env.klass.get(name))
            if d["ret"] is not None:
                d.setdefault("ret_set", []).append(
                    (d["ret"], d["ret_klass"]))
            else:
                # bound by a deferred receiver call: each site binds its
                # own clone
                for rc in d.get("recv_calls", ()):
                    if name in rc.get("binds", ()):
                        rc["is_ret"] = True
        elif (type(v) is ast.Tuple and len(v.elts) > 1
              and not self.st.grouped(v) and all(map(_name_like, v.elts))):
            d["ret_tuple"] = [
                (env.producer.get(e.id), env.klass.get(e.id))
                if type(e) is ast.Name else (None, None) for e in v.elts]
        else:
            return False
        self.mark_dead()
        return True

    def statement(self, st):
        s, ind = st.node, st.ind
        self.st, self.indent = st, len(ind)
        if self.cur_def is not None:
            if not ind:
                self.end_def()
            elif self.cur_class is not None and st.header and (
                    params := _def_params(s)) is not None:
                # the next method: register the finished one first
                self.drain()
                self.close_def()
                self.open_def(s.name, params, self.outer[0], method=True)
                return
            elif type(s) is ast.Return and self.returns(s):
                return
        if (self.frames or st.header or st.clause) and self.frame(st):
            return
        if type(s) is ast.Raise or (type(s) is ast.Return and s.value is None):
            self.mark_dead()
        if self.cur_class is not None and self.cur_def is None:
            if ind:  # the first method; other class-level lines are inert
                if st.header and (params := _def_params(s)) is not None:
                    self.outer = (self.env, self.prev)
                    self.open_def(s.name, params, self.env, method=True)
                return
            self.cur_class = None
        kind = type(s)
        if not ind and st.header and kind is ast.ClassDef:
            self.class_header(s)
        elif not ind and st.header and (params := _def_params(s)) is not None:
            self.outer = (self.env, self.prev)
            self.open_def(s.name, params, self.env)
        elif kind is ast.Delete and all(type(t) is ast.Name
                                        for t in s.targets):
            for t in s.targets:
                for live in (*self.env.maps(), self.bound):
                    live.pop(t.id, None)
        elif kind is ast.Import:
            self.import_(s)
        elif kind is ast.ImportFrom:
            self.import_from(s)
        elif not st.clause or st.clause == "elif":
            self.flows(st)

    def import_(self, s):
        """`import a.b.c` binds the leaf c, reading the segments up to it
        (the leaf access is the call itself); `import a.b as y` binds y."""
        for item in s.names:
            segs = item.name.split(".")
            if segs[0] not in self.modules:
                continue
            if item.asname:
                bound, last = item.asname, self.import_chain(segs)
            elif len(segs) > 1:
                bound, last = segs[-1], self.import_chain(segs[:-1])
            else:
                self.alias_src[segs[0]] = self.import_chain(segs)
                continue
            self.aliases[bound] = item.name
            self.alias_src[bound] = last

    def import_from(self, s):
        mod = s.module
        if s.level or not mod or mod.split(".")[0] not in self.modules:
            return
        segs, item = mod.split("."), s.names[0]
        if len(s.names) > 1:  # several names: one node of the module path
            self.node([mod], mod, is_import=True)
            return
        if item.name == "*":
            last, pref = self.import_chain(segs), mod + "."
            for full in self.by_name:
                if full.startswith(pref) and "." not in full[len(pref):]:
                    self.aliases[full[len(pref):]] = full
                    self.alias_src[full[len(pref):]] = last
            return
        bound = item.asname or item.name
        if len(segs) > 1:
            last = self.import_chain(segs)
            self.import_tree += 1
            self.at(last)["value_names"] = [f"importTree{self.import_tree}"]
        else:
            last = self.import_chain([segs[0], item.name])
            self.at(last)["value_names"] = [bound]
        self.aliases[bound] = f"{mod}.{item.name}"
        self.alias_src[bound] = last

    def flows(self, st):
        """Every other statement: a node per recognised call with its
        receiver and argument flows, the assigned names' bindings, then
        the value shapes that make no call and the field reads/writes."""
        s, env = st.node, self.env
        kind = type(s)
        value, parent, lhs, rhs = None, None, [], None
        roots, compr = [s], None
        if kind is ast.Assign:
            t = s.targets[0]
            if len(s.targets) == 1:
                value = s.value
            lhs = _names(st, t) or []
            if lhs:
                rhs = s.targets[1] if len(s.targets) > 1 else s.value
            if (type(t) is ast.Name and type(value) in _COMPS
                    and len(value.generators) == 1):
                compr = self.comprehension(t.id, value)
            if compr is not None:  # the line becomes `lhs = EXPR`
                parent = value
                if type(value) is ast.DictComp:
                    rhs, value = value.key, None
                    roots = [parent.key, parent.value]
                else:
                    rhs = value = value.elt
                    roots = [value]
        elif (kind is ast.With and st.header and len(s.items) == 1
              and type(s.items[0].optional_vars) is ast.Name):
            lhs = [s.items[0].optional_vars.id]
            rhs = s.items[0].context_expr
        scan = _scan(st, roots)
        line = _Line(st, lhs, st.extent(rhs, parent)[0]
                     if rhs and scan[0] else None, scan)
        for v in lhs:  # a whole-object rebind drops stores and dispatch
            env.fields.pop(v, None)
            for k in self.inst_methods.pop(v, ()):
                self.local_defs.pop(k, None)
        for rec in line.scan:
            self.call(line, *rec)
        # the rhs call binds after every call read the OLD bindings
        for v, num, kls in line.binds:
            env.bind(v, num, kls)
        if compr is not None:
            self.end_comprehension(*compr)
        if line.exprs or line.nested or line.def_args:
            self.resolve(line)
        if self.cur_def is not None and line.made and kind is ast.Return \
                and st.ind and s.value is not None:
            # `return <call>`: the chain-final node is the return producer
            d, start = self.cur_def, st.extent(s.value)[0]
            if start in line.calls:
                d["ret"], d["ret_klass"] = (line.calls[start],
                                            line.klass.get(start))
                d.setdefault("ret_set", []).append((d["ret"], d["ret_klass"]))
            self.mark_dead()
        if line.made:
            if (type(value) in _LITERALS and len(lhs) == 1
                    and type(s.targets[0]) is ast.Name
                    and (type(value) is not ast.Tuple or st.grouped(value))):
                # a container literal of calls: the lhs holds its tracked
                # parts and every top-level call node, never the last
                # call's value (`ms.fit(x)` must not resolve on a list)
                inner = {start for start, _, _ in line.nested}
                members = self.literal_members(value) + [
                    n for start, n in line.calls.items() if start not in inner]
                if members:
                    env.union(lhs[0], list(dict.fromkeys(members)),
                              elem=False)
                    kf = self.dict_fields(value, line)
                    if kf:
                        env.fields[lhs[0]] = kf
            names = _names(st, s.target) if kind is ast.For else None
            if st.header and names is not None:
                # `for v in f(...):` — the iterable's chain-final node feeds
                # the targets; the body forks with the call on pre
                env0 = env.snap()
                rnum = line.calls.get(st.extent(s.iter)[0])
                for v in names if rnum is not None else ():
                    self.element(v, [rnum])
                self.push(env0)
        if self.append(st, line):
            return
        if not line.made and self.value_shapes(st, value, parent):
            return
        self.writes_reads(st, line)

    def comprehension(self, lhs, comp):
        """Bind v of `[E for v in xs]` (one generator over a tracked xs, a
        filter without brackets) to xs's elements; return v's old binding."""
        g, env = comp.generators[0], self.env
        if (type(g.target) is not ast.Name or type(g.iter) is not ast.Name
                or g.is_async or len(g.ifs) > 1
                or _has(g.ifs, (ast.Call, ast.Subscript, ast.List,
                                ast.Tuple, ast.Dict, ast.Set, *_COMPS))):
            return None
        lv, src = g.target.id, g.iter.id
        if src not in env.producer and src not in env.members:
            return None
        saved = (env.members.get(lv), env.elem.get(lv),
                 env.producer.get(lv), env.klass.get(lv))
        self.element(lv, [env.producer[src]] if src in env.producer
                     else env.members[src])
        return lhs, lv, saved

    def end_comprehension(self, lhs, lv, saved):
        """The value is a container of EXPR's result; v does not leak."""
        env = self.env
        if lhs in env.producer:
            env.union(lhs, [env.producer.pop(lhs)])
        for live, old in zip((env.members, env.elem, env.producer,
                              env.klass), saved):
            if old is None:
                live.pop(lv, None)
            else:
                live[lv] = old

    def element(self, v, members):
        """Bind ``v`` to an element of ``members`` (loop targets)."""
        self.env.union(v, list(members))
        self.env.fields.pop(v, None)

    def call(self, line, start, call, raw):
        """One recognised call, in source order of its callee text."""
        env, st, methods_of = self.env, line.st, self.methods_of
        cname, import_src = raw, None
        if self.aliases or self.alias_src:
            head, _, rest = cname.partition(".")
            if head not in env.klass and head not in env.producer:
                import_src = self.alias_src.get(head)
                if head in self.aliases:
                    cname = self.aliases[head] + ("." + rest if rest else "")
        func = call.func
        off = func.value if type(func) is ast.Attribute else None
        if line.inst is not None and "." not in cname and off is line.inst[0]:
            # `X(a).m(b)` dispatches on the ctor's anonymous instance; the
            # lhs tracks the METHOD's return
            cls = self.local_classes.get(line.inst[1])
            if cls is not None and cname in cls["methods"]:
                anon = line.inst[2]
                self.local_defs[f"{anon}.{cname}"] = cls["methods"][cname]
                cname = f"{anon}.{cname}"
                for v in line.lhs:
                    env.fields.pop(v, None)
                    for k in self.inst_methods.pop(v, ()):
                        self.local_defs.pop(k, None)
        if cname in self.local_defs and (
                self.cur_def is None or cname != self.cur_def["name"]):
            self.local_call(line, call, cname)
            return
        path = klass = recv = members = fused = None
        chain_start, call_txt = start, raw + "(...)"
        bound = self.bound.get(cname) if "." not in cname else None
        if line.chain is not None and "." not in cname \
                and off is line.chain[0]:
            # `Ctor(...).meth(...)`: the ctor feeds meth at DATA-0
            _, recv, rk, chain_start = line.chain
            path = (methods_of[rk][cname]
                    if rk is not None and cname in methods_of.get(rk, {})
                    else list(self.at(recv)["path"]) + [cname])
        elif (bound is not None and env.producer.get(cname) == bound[0]
              and not self.at(bound[0])["flows_to"]):
            path, recv, fused = list(bound[2]), bound[1], bound[0]  # G4
        elif ("." not in cname and type(off) is ast.Subscript
              and type(off.value) is ast.Name
              and (off.value.id in env.members or off.value.id in env.fields)
              and (lit := st.literal(off.slice, off)) is not None
              and (lit[0] or lit[1].isdecimal())):
            # `models[0].fit(x)` resolves against the exact member a
            # literal index selects, `cfg['m'].fit(x)` the stored field;
            # without a receiver the call mints nothing
            obj, recv, kls = off.value.id, None, None
            key = lit[1] if lit[0] else int(lit[1])
            if type(key) is int:
                mem = env.members.get(obj, [])
                if key < len(mem):
                    recv = mem[key]
                    kls = self.node_klass.get(recv)
            elif key in env.fields.get(obj, {}):
                recv, kls = env.fields[obj][key]
            if recv is None:
                return
            path = (methods_of[kls][cname]
                    if kls is not None and cname in methods_of.get(kls, {})
                    else list(self.at(recv)["path"]) + [cname])
            chain_start = st.span(off)[0]
            call_txt = st.text[chain_start:st.span(func)[1]] + "(...)"
        elif cname in self.by_name:
            path = self.by_name[cname]
            if cname in methods_of:  # a class ctor
                klass = cname
        elif "." in cname:
            r, meth = cname.rsplit(".", 1)
            if r in env.klass and meth in methods_of.get(env.klass[r], {}):
                path = methods_of[env.klass[r]][meth]
                recv = env.producer.get(r)
            elif r in env.elem and env.members.get(r) == env.elem[r]:
                # G8 members: elements of ONE class resolve the method,
                # with a DATA-0 edge from every member
                klss = {self.node_klass.get(p) for p in env.members[r]}
                kls = klss.pop() if len(klss) == 1 else None
                if kls is not None and meth in methods_of.get(kls, {}):
                    path = methods_of[kls][meth]
                    members = list(dict.fromkeys(env.members[r]))
            elif "." in r:
                # through a stored field: `h.model.fit(df)`
                obj, _, fld = r.partition(".")
                ent = None if "." in fld else env.fields.get(obj, {}).get(fld)
                if ent and ent[1] and meth in methods_of.get(ent[1], {}):
                    path, recv = methods_of[ent[1]][meth], ent[0]
        if path is None and "." not in cname:
            hit = self.tail_first.get(cname)  # a bare tail after an import
            if hit is not None:
                qual, path = hit
                if qual in methods_of:
                    klass = qual
        cur = self.cur_def
        if path is None and "." in cname:
            # G1: every invoke on a tracked turtle extends its path; a def
            # parameter's calls defer (G8)
            r, meth = cname.rsplit(".", 1)
            if meth.isdigit() or (cur is not None and r in cur["params"]):
                pass
            elif r in env.producer:
                recv = env.producer[r]
                path = list(self.at(recv)["path"]) + [meth]
            elif r in env.elem and env.members.get(r) == env.elem[r]:
                # a phi'd or loop-element union whose paths agree extends
                # once, fed DATA-0 by every member
                mpaths = {tuple(self.at(p)["path"]) for p in env.members[r]}
                if len(mpaths) == 1:
                    path = list(mpaths.pop()) + [meth]
                    members = list(dict.fromkeys(env.members[r]))
        if path is None and import_src is not None:
            path = cname.split(".")  # roots at the module
        if path is None:
            if cur is not None and "." in cname:
                self.defer(line, call, cname, raw, start)
            return
        line.made = True
        node = self.node(list(path), call_txt)
        num = node["node_number"]
        # an earlier call of the same chain is an unnamed intermediate
        prev = line.calls.get(chain_start)
        if prev is not None and self.at(prev).get("value_names"):
            self.at(prev)["value_names"] = None
        line.calls[chain_start], line.klass[chain_start] = num, klass
        if fused is not None:
            # kill the read turtle: drop its receiver edge; the node is
            # swept at page end
            self.at(fused)["_dead"] = True
            src = self.at(recv)
            nf = dict(src["flows_to"])
            kept = [d for d in nf.get("0", []) if d != fused]
            if kept:
                nf["0"] = kept
            else:
                nf.pop("0", None)
            src["flows_to"] = nf
            self.bound.pop(cname, None)
            env.producer.pop(cname, None)
        for p in ([recv] if recv is not None else members
                  or ([import_src] if import_src is not None else ())):
            self.flow(p, 0, num)
        if klass:
            self.node_klass[num] = klass
        line.chain = (call, num, klass, chain_start)
        self.args(line, call, node)
        if line.lhs and chain_start == line.rhs_start:
            if len(line.lhs) > 1:
                # a tuple unpack: one element node per output, path +
                # [ordinal], fed at DATA-0 and named by its var
                line.binds = []
                for i, v in enumerate(line.lhs):
                    elem = self.node(list(path) + [str(i)], v)
                    elem["value_names"] = [v]
                    self.flow(num, 0, elem["node_number"])
                    line.binds.append((v, elem["node_number"], None))
            else:
                node["value_names"] = line.lhs
                line.binds = [(v, num, klass) for v in line.lhs]

    def args(self, line, call, node):
        """Constants and dataflow of a node's arguments, at ordinals from 1
        in source order, keywords included."""
        env, st, cur = self.env, line.st, self.cur_def
        num, pos = node["node_number"], 0
        for a in _call_args(st, call):
            pos += 1
            v = a.node
            name = v.id if type(v) is ast.Name else None
            if a.grouped:
                continue
            if a.splat:  # the container's members flow at one ordinal
                for p in ([env.producer[name]] if name in env.producer
                          else env.members.get(name, ())):
                    self.flow(p, pos, num)
            elif (lit := st.literal(v, call)) is not None:
                (node["constant_named_args"] if a.key else
                 node["constant_positional_args"])[a.key or str(pos)] = lit[1]
            elif name in env.producer or name in env.members:
                for p in ([env.producer[name]] if name in env.producer
                          else env.members[name]):
                    self.flow(p, pos, num)
            elif cur is not None and name in cur["params"]:
                cur["param_uses"].setdefault(name, []).append((num, pos))
            elif ((fr := self.field_of(st, v)) and fr[0] in env.producer
                  and fr[1] and not fr[1].isdigit()):
                # a read node of its own per occurrence
                r = self.read(env.producer[fr[0]], fr[1], st.seg(v))
                r["constant_positional_args"]["1"] = fr[1]
                self.flow(r["node_number"], pos, num)
            elif fr and fr[1] in env.fields.get(fr[0], {}):
                # a stored value flows; the holder mints no node
                self.flow(env.fields[fr[0]][fr[1]][0], pos, num)
            elif a.start in line.starts:
                line.nested.append((a.start, num, pos))
            elif self.binop_arg(st, v):
                line.exprs.append((num, pos, v))
            elif (self.cur_class is not None and cur is not None
                  and type(v) is ast.Attribute and type(v.value) is ast.Name
                  and v.value.id == "self"):
                # an unresolved `self.f`: each dispatch site binds it
                cur.setdefault("self_field_uses", {}).setdefault(
                    v.attr, []).append((num, pos))

    @staticmethod
    def field_of(st, node):
        """``(obj, field)`` of a whole `obj.field` / `obj['field']`."""
        if type(node) is ast.Attribute and type(node.value) is ast.Name:
            return node.value.id, node.attr
        if type(node) is ast.Subscript and type(node.value) is ast.Name:
            lit = st.literal(node.slice, node)
            if lit is not None and lit[0]:
                return node.value.id, lit[1]
        return None

    @staticmethod
    def binop_arg(st, v):
        """A binary op over two atoms: literals, names or dotted calls
        with flat arguments."""
        if type(v) is not ast.BinOp or not isinstance(v.op, _PROPAGATE_OPS):
            return False
        for o in (v.left, v.right):
            if st.wrapped(o, v):
                return False
            if type(o) is ast.Call:
                if not _dotted(o.func) or _has(
                        [*o.args, *(k.value for k in o.keywords)],
                        (ast.Call, ast.Tuple)):
                    return False
            elif type(o) is not ast.Name and st.literal(o, v) is None:
                return False
        return True

    def local_call(self, line, call, cname):
        """A user def's call mints no node: argument producers wire to the
        body's parameter uses (or forward one level out), deferred
        receiver calls clone, the return binds the lhs."""
        env, st, cur = self.env, line.st, self.cur_def
        d = self.local_defs[cname]
        params, upos = d["params"], 0
        binding: dict[str, tuple] = {}  # param -> (name, literal text)
        for a in _call_args(st, call):
            v, plain = a.node, not (a.grouped or a.splat)
            name = v.id if type(v) is ast.Name and plain else None
            lit = st.literal(v, call) if plain else None
            if a.key is None:
                upos += 1
                if upos > len(params):
                    continue
            param = a.key or params[upos - 1]
            binding[param] = (name, lit and lit[1])
            uses = d["param_uses"].get(param)
            if name in env.producer and uses:
                for nnum, use_pos in uses:
                    self.flow(env.producer[name], use_pos, nnum)
            elif cur is not None and name in cur["params"]:
                for use in uses or ():  # the outer def's parameter's uses
                    cur["param_uses"].setdefault(name, []).append(use)
            elif uses and not a.grouped and a.start in line.starts:
                line.def_args.append((a.start, list(uses)))
        for rc in d.get("recv_calls", ()):
            self.clone(line, rc, binding)
        lhs = line.lhs
        if lhs and d.get("ret_tuple"):
            # `tr, te = load()` binds element-wise; assigned whole, the
            # producers become members
            rt = d["ret_tuple"]
            if len(lhs) == len(rt):
                for v, (p, k) in zip(lhs, rt):
                    if p is not None:
                        env.bind(v, p, k)
                    else:
                        for live in (env.producer, env.klass, env.members):
                            live.pop(v, None)
            elif len(lhs) == 1:
                env.union(lhs[0], [p for p, _ in rt if p is not None],
                          elem=False)
            else:
                for v in lhs:
                    for live in (env.producer, env.klass, env.members):
                        live.pop(v, None)
        elif lhs and d["ret"] is not None:
            # return phi: different returned producers bind a union
            rset = [t for t in dict.fromkeys(
                tuple(x) for x in (d.get("ret_set") or []))
                if t[0] is not None]
            for v in lhs:
                if len(rset) > 1:
                    env.union(v, [p for p, _ in rset])
                else:
                    env.bind(v, d["ret"], d["ret_klass"])
        cls = self.local_classes.get(cname)
        targets: list[str] = []
        if cls is not None:
            # an instance carries the __init__ stores and dispatches
            # through per-instance aliases
            targets = list(lhs)
            if id(call) in line.chained:  # `X(a).m(b)`: an anonymous one
                self.inst_counter += 1
                anon = f"__inst{self.inst_counter}"
                targets.append(anon)
                line.inst = (call, cname, anon)
            for v in targets:
                env.fields[v] = dict(cls["fields"])
            for v in lhs:
                self.inst_methods[v] = []
                for mn, md in cls["methods"].items():
                    self.local_defs[f"{v}.{mn}"] = md
                    self.inst_methods[v].append(f"{v}.{mn}")
        # setter stores and deferred `self.f` uses bind on THIS instance
        heads = [cname.split(".", 1)[0]] if "." in cname else targets
        for field, param in d.get("param_field_stores") or ():
            val = binding.get(param)
            if val is not None and val[0] in env.producer:
                ent = (env.producer[val[0]], env.klass.get(val[0]))
                for h in heads:
                    env.fields.setdefault(h, {})[field] = ent
        for field, uses in (d.get("self_field_uses") or {}).items():
            ent = env.fields.get(heads[0], {}).get(field) if heads else None
            for nnum, use_pos in uses if ent is not None else ():
                self.flow(ent[0], use_pos, nnum)

    def clone(self, line, rc, binding):
        """G8: a deferred body receiver call becomes one node per call
        site, resolved against this site's receiver class."""
        env, cur = self.env, self.cur_def
        val = binding.get(rc["param"])
        name = val[0] if val else None
        if cur is not None and name is not None and name in cur["params"]:
            # the receiver is the outer def's own parameter: forward the
            # deferral one level out
            spec = []
            for kind, key, v in rc["args"]:
                b = binding.get(v) if kind == "param" else None
                if kind != "param":
                    spec.append((kind, key, v))
                elif b is None:
                    continue
                elif b[0] in cur["params"]:
                    spec.append(("param", key, b[0]))
                elif b[0] in env.producer:
                    spec.append(("tracked", key, env.producer[b[0]]))
                elif b[1] is not None:
                    spec.append(("const_pos", str(key), b[1]))
            fwd = dict(rc, param=name, args=spec, binds=())
            if rc.get("is_ret") and line.lhs:  # only `return v` re-marks
                fwd.update(is_ret=False, binds=tuple(line.lhs))
            cur.setdefault("recv_calls", []).append(fwd)
            return
        kls = env.klass.get(name)
        if kls is not None and rc["meth"] in self.methods_of.get(kls, {}):
            cpath = list(self.methods_of[kls][rc["meth"]])
        elif name in env.producer:
            cpath = list(self.at(env.producer[name])["path"]) + [rc["meth"]]
        else:
            return
        cnum = self.node(cpath, rc["text"], ln=rc["ln"],
                         phys=rc["phys"])["node_number"]
        cnode = self.at(cnum)
        if name in env.producer:
            self.flow(env.producer[name], 0, cnum)
        for kind, key, v in rc["args"]:
            if kind == "const_pos":
                cnode["constant_positional_args"][key] = v
            elif kind == "const_named":
                cnode["constant_named_args"][key] = v
            elif kind == "tracked":
                self.flow(v, key, cnum)  # body-local, shared across sites
            else:
                b = (binding.get(v) or (None,))[0]
                if b in env.producer:
                    self.flow(env.producer[b], key, cnum)
                elif cur is not None and b is not None and b in cur["params"]:
                    cur["param_uses"].setdefault(b, []).append((cnum, key))
        for v in line.lhs if rc.get("is_ret") else ():
            env.producer[v] = cnum  # this site's clone, of unknown class
            env.klass.pop(v, None)
            env.members.pop(v, None)

    def defer(self, line, call, cname, raw, start):
        """G8: record a method call on a def PARAMETER with its constant,
        parameter and tracked arguments, to clone per call site."""
        r, meth = cname.rsplit(".", 1)
        cur, env, st = self.cur_def, self.env, line.st
        if r not in cur["params"]:
            return
        spec, dpos = [], 0
        for a in _call_args(st, call):
            dpos += 1
            if a.grouped or a.splat:
                continue
            v = a.node
            lit = st.literal(v, call)
            name = v.id if type(v) is ast.Name else None
            if lit is not None:
                spec.append(("const_named", a.key, lit[1]) if a.key
                            else ("const_pos", str(dpos), lit[1]))
            elif name in cur["params"]:
                spec.append(("param", dpos, name))
            elif name in env.producer:
                spec.append(("tracked", dpos, env.producer[name]))
        s = st.node
        cur.setdefault("recv_calls", []).append({
            "param": r, "meth": meth, "args": spec,
            "ln": self.ln, "phys": list(self.phys), "text": raw + "(...)",
            # returned directly here, or through the var it binds (marked
            # by the `return v` handler)
            "is_ret": (type(s) is ast.Return and bool(st.ind)
                       and s.value is not None
                       and start == st.extent(s.value)[0]),
            "binds": list(line.lhs),
        })

    def resolve(self, line):
        """After the call pass: `.expr` nodes of binop arguments (path =
        first tracked operand's path + ['expr']), nested-call flows at
        the argument's ordinal, nested-call arguments of local defs."""
        st = line.st
        for outer, arg_pos, v in line.exprs:
            feeds, consts = [], {}
            for k, o in enumerate((v.left, v.right)):
                lit = st.literal(o, v)
                if lit is not None:
                    consts[str(k)] = lit[1]
                elif type(o) is ast.Name:
                    if o.id in self.env.producer:
                        feeds.append((self.env.producer[o.id], k))
                elif line.calls.get(st.span(o)[0], outer) != outer:
                    feeds.append((line.calls[st.span(o)[0]], k))
            if feeds:
                enode = self.node(
                    list(self.at(feeds[0][0])["path"]) + ["expr"], st.seg(v))
                enode["constant_positional_args"].update(consts)
                for src, k in feeds:
                    self.flow(src, k, enode["node_number"])
                self.flow(enode["node_number"], arg_pos, outer)
        for start, outer, arg_pos in line.nested:
            if line.calls.get(start, outer) != outer:
                self.flow(line.calls[start], arg_pos, outer)
        for start, uses in line.def_args:
            for nnum, use_pos in uses if start in line.calls else ():
                if nnum != line.calls[start]:
                    self.flow(line.calls[start], use_pos, nnum)

    def literal_members(self, value):
        """The tracked plain-name parts of a container literal."""
        parts = ([v for k, v in zip(value.keys, value.values)
                  if k is not None] if type(value) is ast.Dict
                 else getattr(value, "elts", []))
        return [self.env.producer[p.id] for p in parts
                if type(p) is ast.Name and p.id in self.env.producer]

    def dict_fields(self, value, line=None):
        """key → (producer, klass) for a dict literal's string keys whose
        values are tracked names or calls made on this line (digit keys
        stay out: the emitters read them as node references)."""
        if type(value) is not ast.Dict:
            return {}
        st, env, out = self.st, self.env, {}
        for k, v in zip(value.keys, value.values):
            lit = st.literal(k, value) if k is not None else None
            if lit is None or not lit[0] or not lit[1] or lit[1].isdigit():
                continue
            start = st.extent(v, value)[0] if line else None
            if type(v) is ast.Name and v.id in env.producer:
                out[lit[1]] = (env.producer[v.id], env.klass.get(v.id))
            elif line is not None and start in line.calls:
                out[lit[1]] = (line.calls[start], line.klass.get(start))
        return out

    def append(self, st, line):
        """`xs.append(v)` on an untracked xs adds the tracked value (a
        name or a call on this line) to xs's members.  True if handled."""
        s, env = st.node, self.env
        c = s.value if type(s) is ast.Expr else None
        if not (type(c) is ast.Call and type(c.func) is ast.Attribute
                and c.func.attr == "append" and type(c.func.value) is ast.Name
                and (c.args or c.keywords)
                and c.func.value.id not in env.producer):
            return False
        first = _call_args(st, c)[0]
        v = first.node
        if (len(c.args) + len(c.keywords) == 1 and not first.key
                and not first.splat and type(v) is ast.Name
                and not first.grouped and v.id in env.producer):
            prod = env.producer[v.id]
        else:
            prod = line.calls.get(first.start) if line.made else None
        if prod is None:
            return False
        mem = env.members.setdefault(c.func.value.id, [])
        if prod not in mem:
            mem.append(prod)
        return True

    def value_shapes(self, st, value, parent):
        """Assignments that made no call node, `for v in xs:` and `x op=
        a`.  True when handled (the write/read scan is skipped)."""
        s, env, p = st.node, self.env, self.env.producer
        if type(s) is ast.For:
            return st.header and self.loop(st, s)
        if type(s) is ast.AugAssign:
            return self.augment(st, s)
        if value is None or st.wrapped(value, parent):
            return False
        t = s.targets[0]
        x = t.id if type(t) is ast.Name else None
        if type(value) is ast.BinOp and type(value.op) in _EXPR_OPS:
            self.expression(st, t, x, value)  # and on to the shapes below
        if x is None:
            return False
        if type(value) is ast.Subscript:
            base, attr = value.value, None
            if type(base) is ast.Attribute:
                base, attr = base.value, base.attr
            slices = _has([value.slice], ast.Slice)
            if type(base) is ast.Name and base.id in p and _flat(value) \
                    and (slices or attr):
                self.subscript(st, x, base.id, attr, value, parent, slices)
                return True
        obj, field = self.field_of(st, value) or (None, None)
        if obj in p and field and not field.isdigit():
            r = self.read(p[obj], field, st.src(value, parent))
            r["value_names"] = [x]
            env.bind(x, r["node_number"])
            if type(value) is ast.Attribute:
                # a bound method: fused into `x(...)` when that is its
                # sole use (G4); a turtle's read carries its own path
                meths = self.methods_of.get(env.klass.get(obj, ""), {})
                self.bound[x] = (r["node_number"], p[obj],
                                 meths[field] if field in meths
                                 else list(r["path"]))
            return True
        if obj is not None and obj not in p and field:
            # a load from an untracked object aliases the stored value
            ent = env.fields.get(obj, {}).get(field)
            if ent is not None:
                env.bind(x, *ent)
                return True
        sel = self.selection(st, value)
        if sel is not None and sel in p:
            self.select(st, x, sel, value, parent)
            return True
        ops = ([value.body, value.orelse] if type(value) is ast.IfExp
               else _leaves(value, None) if type(value) is ast.BoolOp
               else None)
        if ops and all(type(o) is ast.Name for o in ops) and any(
                o.id in p or o.id in env.members for o in ops):
            # `x = a if c else b` / `x = a or b`: every operand unions
            members = []
            for o in ops:
                if o.id in p:
                    members.append(p[o.id])
                members.extend(env.members.get(o.id, ()))
            env.union(x, list(dict.fromkeys(members)))
            return True
        if type(value) in _LITERALS and (type(value) is not ast.Tuple
                                         or st.grouped(value)):
            members = self.literal_members(value)
            if members:
                env.union(x, members, elem=False)
                kf = self.dict_fields(value)
                if kf:
                    env.fields[x] = kf
        elif type(value) is ast.Name:
            if value.id in p or value.id in env.members:
                self.alias(x, value.id)
        elif type(value) is ast.BinOp and isinstance(value.op, _PROPAGATE_OPS):
            # G7: c = a + b carries a's and b's producers
            ops = _leaves(value, _PROPAGATE_OPS)
            if type(ops[0]) is ast.Name and all(
                    not st.wrapped(o, value)
                    and (type(o) is ast.Name or _dotted(o, 1)
                         or (type(o) is ast.Constant
                             and type(o.value) not in (str, bytes)))
                    for o in ops):
                members = []
                for o in ops:
                    if type(o) is ast.Name and o.id in p:
                        members.append(p[o.id])
                    elif type(o) is ast.Name:
                        members.extend(env.members.get(o.id, ()))
                if members:
                    env.union(x, members, elem=False)
        return False

    def expression(self, st, t, x, value):
        """The semForms shape `x = a['p'] / b['q']` / `v['t'] = v['p'] *
        v['q']` over tracked receivers, canonized by producer identity
        (see `extract_page_expressions`); a plain lhs holds both frames."""
        p = self.env.producer

        def key_of(n):  # (v, key) of `v['key']`
            return self.field_of(st, n) if type(n) is ast.Subscript else None

        lhs = None if x else key_of(t)
        r1, r2 = key_of(value.left), key_of(value.right)
        if (not (r1 and r2 and (x or lhs))
                or st.wrapped(value.left, value)
                or st.wrapped(value.right, value)
                or not all(r[0] in p for r in (lhs, r1, r2) if r)):
            return
        canon: dict[int, str] = {}

        def frame(r):
            return canon.setdefault(p[r[0]], f"df{len(canon)}") + f"['{r[1]}']"

        code = f"{frame(lhs)} = " if lhs else ""
        code += f"{frame(r1)} {_EXPR_OPS[type(value.op)]} {frame(r2)}"
        if self.exprs is not None:
            self.exprs.append({"code": code, "bases": [
                ".".join(self.at(n)["path"]) for n in canon]})
        if x:
            self.env.union(x, list(dict.fromkeys([p[r1[0]], p[r2[0]]])),
                           elem=False)

    def subscript(self, st, x, v, attr, value, parent, slices):
        """`x = v[a:b]` / `x = v.attr[a:b]`: an is_slice node fed by the
        sliced value at 1; `x = v.attr[i]`: the attr read, then a key read
        for a string key, else the path-unchanged selection fed at 1."""
        src = p = self.env.producer[v]
        if attr:
            src = self.read(p, attr, f"{v}.{attr}")["node_number"]
        text = st.src(value, parent)
        lit = None if slices else st.literal(value.slice, value)
        if lit is not None and lit[0] and lit[1] and not lit[1].isdigit():
            final = self.read(src, lit[1], text)
        else:
            final = self.node(list(self.at(src)["path"]), text)
            final["is_slice"] = slices
            self.flow(src, 1, final["node_number"])
        final["value_names"] = [x]
        self.env.bind(x, final["node_number"])

    @staticmethod
    def selection(st, value):
        """The v of a value written `v[…]…]`: starting with a subscript
        of the name v and ending in a bracket."""
        first, last = value, value
        while not (type(first) is ast.Subscript
                   and type(first.value) is ast.Name):
            if type(first) not in _FIRST:
                return None
            first = _FIRST[type(first)](first)
        while type(last) in _LAST:
            last = _LAST[type(last)](last)
        name = first.value
        a, b = st.span(value)
        if (type(last) not in (ast.Subscript, ast.List, ast.ListComp)
                or st.span(last)[1] != b or st.span(name)[0] != a
                or st.text[st.span(name)[1]] != "["):
            return None
        return name.id

    def select(self, st, x, v, value, parent):
        """Whole-subscript selection: one path-unchanged node fed at
        DATA-0, plus the inner read → slice chain when the index slices
        an attribute of a tracked value."""
        p = self.env.producer
        idx = value.slice if type(value) is ast.Subscript \
            and type(value.value) is ast.Name else None
        inner = None
        if (type(idx) is ast.Subscript and type(idx.value) is ast.Attribute
                and type(idx.value.value) is ast.Name
                and idx.value.value.id in p
                and _has([idx.slice], ast.Slice)
                and st.text[st.span(value.value)[1] + 1:
                            st.span(value)[1] - 1] == st.seg(idx)):
            w, attr = idx.value.value.id, idx.value.attr
            r = self.read(p[w], attr, f"{w}.{attr}")
            r["constant_positional_args"]["1"] = attr
            sl = self.node(list(r["path"]), st.seg(idx))
            sl["is_slice"] = True
            self.flow(r["node_number"], 1, sl["node_number"])
            inner = sl["node_number"]
        sel = self.node(list(self.at(p[v])["path"]), st.src(value, parent))
        sel["value_names"] = [x]
        self.flow(p[v], 0, sel["node_number"])
        if inner is not None:
            self.flow(inner, 1, sel["node_number"])
        self.env.bind(x, sel["node_number"])

    def loop(self, st, s):
        """`for v in xs:` — the targets carry xs's producers as element
        members; the body forks with env0 excluding the loop var."""
        names, it, env = _names(st, s.target), s.iter, self.env
        if names is None or type(it) is not ast.Name or st.wrapped(it):
            return False
        env0 = env.snap()
        if it.id in env.producer or it.id in env.members:
            src = ([env.producer[it.id]] if it.id in env.producer
                   else env.members[it.id])
            for v in names:
                self.element(v, src)
        self.push(env0)
        return True

    def augment(self, st, s):
        """`x op= a` folds a's producers into x (G7)."""
        t, v, env = s.target, s.value, self.env
        if not (type(t) is ast.Name and isinstance(s.op, _PROPAGATE_OPS)
                and type(v) is ast.Name and not st.wrapped(v)
                and (v.id in env.producer or v.id in env.members)):
            return False
        members = [env.producer[t.id]] if t.id in env.producer else []
        members.extend(env.members.get(t.id, ()))
        if v.id in env.producer:
            members.append(env.producer[v.id])
        else:
            members.extend(env.members[v.id])
        env.union(t.id, members, elem=False)
        return True

    def alias(self, x, rhs):
        """`d = c` copies c's bindings (WALA's SSA makes this free)."""
        env = self.env
        if rhs not in env.producer:
            env.members[x] = list(env.members[rhs])
            if rhs in env.elem and env.members.get(rhs) == env.elem[rhs]:
                env.elem[x] = env.members[x]
            else:
                env.elem.pop(x, None)
            env.producer.pop(x, None)
            env.klass.pop(x, None)
            return
        env.bind(x, env.producer[rhs], env.klass.get(rhs))
        if rhs in self.bound:  # the collapse sees through copies
            self.bound[x] = self.bound[rhs]
        else:
            self.bound.pop(x, None)
        if _temp(rhs, "unp"):  # the user name replaces an unpack temp
            n = self.at(env.producer[x])
            n["value_names"] = [x if nm == rhs else nm
                                for nm in n["value_names"]]
            env.producer.pop(rhs, None)
            env.klass.pop(rhs, None)

    def writes_reads(self, st, line):
        """`v.f = …` / `v['f'] = …` writes on v's producer and stores the
        value for its loads (an untracked one drops the store); any other
        `v.attr` is a read.  Digit fields stay out."""
        s, env, cur = st.node, self.env, self.cur_def
        t = s.targets[0] if type(s) is ast.Assign else None
        obj, field = self.field_of(st, t) or (None, None)
        if field and not field.isdigit():
            if obj in env.producer:
                src = self.at(env.producer[obj])
                src["writes"] = src["writes"] + [
                    {"container": None, "field": field}]
            rhs = s.targets[1] if len(s.targets) > 1 else s.value
            name = (rhs.id if type(rhs) is ast.Name and len(s.targets) == 1
                    and not st.wrapped(rhs) else None)
            start = st.extent(rhs)[0]
            if name in env.producer:
                env.fields.setdefault(obj, {})[field] = (
                    env.producer[name], env.klass.get(name))
            elif (cur is not None and self.cur_class is not None
                  and obj == "self" and name in cur["params"]):
                # a setter: each dispatch site binds its instance's field
                cur.setdefault("param_field_stores", []).append(
                    (field, name))
            elif line.made and start in line.calls:
                env.fields.setdefault(obj, {})[field] = (
                    line.calls[start], line.klass.get(start))
            else:
                env.fields.get(obj, {}).pop(field, None)
        for r in line.reads:
            if r is not t and r.value.id in env.producer:
                src = self.at(env.producer[r.value.id])
                src["reads"] = src["reads"] + [
                    {"container": None, "field": r.attr}]


def _append_flow(flows: dict, key: str, dst: int) -> dict:
    flows = dict(flows)
    flows[key] = flows.get(key, []) + [dst]
    return flows

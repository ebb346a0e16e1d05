"""Code-block flow extraction: snippets → analysis-node rows (E6/E7 feed).

The reference's analysis graph comes from WALA interprocedural analysis of
whole Python scripts (`PythonTurtleAnalysisEngine.java:1413-2256`).  In
the webtext tier the inputs are forum code snippets, so this operator is
the honest subset SURVEY.md §7.7 scopes: lightweight sequential-call
extraction per snippet, emitting the reference's node/edge vocabulary —

- one node per API call rooted at a catalog module or import: cataloged
  calls keep their catalog path; an UNCATALOGED invoke on a tracked
  turtle extends the receiver's path (G1 full turtle shape, r5 —
  `data.fillna(...)` on a read_csv result is `pandas.read_csv.fillna`,
  golden example1.json node 82; `model.predict(...)` on a fit result is
  `….SVC.fit.predict`, example2.json node 106), and an uncataloged call
  THROUGH an import binding roots at the module (`pd.notnull(...)` →
  `pandas.notnull`, example3.json node 84).  Calls with no catalog-module
  root stay out (the honest scope bound)
- import statements materialize the reference's member-read chains
  (r5): `import a.b.c` emits the root import node plus one member-read
  node per dotted segment (each with a reads-entry naming the field and
  a DATA-0 edge from its container, example1.json nodes 76-79);
  `from a.b import N` reads the module segments (the last carrying an
  importTree<k> temp name), `from a import N` reads N itself; calls
  through any import binding take a DATA-0 edge from the binding's
  import/member-read node (example2.json: pandas(74) →0→ read_csv(85))
- lhs binding is SSA-faithful (r5): the binding belongs to the call
  whose postfix expression IS the rhs (nested arg calls never bind) and
  applies after the whole line's uses resolve, so `data =
  data.where(pd.notnull(data), …)` lets notnull read the OLD binding
  and the where-result REBINDS the turtle (example3.json nodes 80-84)
- whole-subscript selection with a complex index (r5): `X =
  data[data.columns[:…]]` mints one path-unchanged node fed at DATA-0
  (the subscript-read shape of example1.json node 84)
- ``flowsTo`` at ordinal 0 for receiver dataflow: ``v = Ctor(...)`` then
  ``v.method(...)`` links the constructor node to the method node, the
  shape the reference's DATA-0 edges take (`…Engine.java:1892-1954`)
- ``flowsTo`` at ordinal k when a produced variable is passed as the k-th
  positional argument of a later recognized call
- ``immediatelyPrecedes`` (CONTROL) chaining consecutive recognized calls
  inside a snippet (`…Engine.java:2116-2256`)
- constant positional/named args (string/number literals) with ordinals,
  receiver = position 0 so explicit args start at 1; KEYWORD args occupy
  their source-order ordinal too, and a tracked value passed by keyword
  flows at that ordinal (`sample_graph/example2.json` node 88:
  `stratify=…` flows to train_test_split at position 4)
- nested-call args: ``g(f(x))`` (positional or keyword) flows the inner
  call's result — the chain-FINAL node for ``g(A().m())`` — into the
  outer call at the arg's source-order ordinal, the evaluation order
  WALA's CAstNode.CALL visit produces; these edges point backward in the
  textual node numbering by necessity
- import nodes flagged ``is_import`` (single-element path); `import X as
  y` / `from X import A as b` aliases resolve call names to canonical
  catalog entries (incl. constructed-class tracking through the alias)
- attribute/string-subscript reads+writes on tracked values (the honest
  G2 subset of AstPropertyRead/Write, `…Engine.java:1892-1954`)
- field store/load through UNTRACKED objects (r5): `h.data = df` then
  `SVC(h.data)` / `x = h.data` propagates df's producer through the
  field — plain value flow, no intermediate node (when the object is
  not a turtle the store/load pair is SSA plumbing WALA resolves in
  the pointer analysis); whole-object rebinds invalidate the store
- ternary phi (r5): `c = a if cond else b` flows BOTH arms into c
  (member union, like the loop-element shape; method calls on c resolve
  through the union-receiver path when the arms' classes agree)
- `xs.append(v)` membership (r5): appending a tracked value (plain var
  or same-line call result) to an untracked list variable adds it to
  the container members later iteration/args see
- method calls THROUGH field/element loads (r5): `h.model = SVC()`
  then `h.model.fit(df)` resolves fit against the stored ctor result
  (which becomes the DATA-0 receiver); `models[0].fit(x)` resolves
  against the EXACT member a literal index selects (precise, unlike
  the loop-element union); `cfg['m'].fit(x)` likewise through the
  subscript store — the AstPropertyRead→invoke chain of
  `…Engine.java:1892-1954` with the holder contributing no node.  A
  tracked subscript receiver with an uncataloged method emits no node
  (parity with dotted calls on tracked variables)
- one lexer for snippet text: a single regex scan (`_LEX_RE`) finds
  string literals (any prefix, single or triple quotes, escapes), `#`
  comments, brackets, ``\\`` continuations, newlines and top-level
  `,`; every "inside a string, comment or bracket?" question reads
  that scan.  Comments are cut; a multi-line triple-quoted literal
  keeps its delimiters and blanks its interior lines (text, not
  statements); calls and reads inside string text are inert, while
  f-string brace regions evaluate (`{{`/`}}` are literal)
- multi-line call spans: physical lines inside open brackets (or inside
  a string literal) join one logical statement with a
  first_line≠last_line source span; explicit ``\\`` continuations
  splice token-tight (``x = pandas.\\`` + `read_csv(…)` keeps the
  dotted name whole).  Bracket and `\\` joins stop after `_MAX_SPAN`
  lines, so an unclosed paren cannot swallow the snippet; a closed
  string literal joins its statement whatever its length, and an
  unterminated triple quote ends its statement at the opening line
- container def-use chaining: ``v = [a, b]`` then ``f(v)`` flows a's and
  b's producers into f (`…Engine.java:1905-1920`'s dict/tuple/list
  recursion, scoped to literal containers of tracked variables)
- G7 subset: binary-operator propagation — ``c = a + b`` carries both
  operands' producers into later uses of ``c`` (the …/expr turtle types
  of `…Engine.java:596-674`), plus plain-copy aliasing ``d = c``
- tuple unpack: ``a, b = call(...)`` creates one element node per output
  with an ordinal path extension (path+['0'], path+['1']), fed by the
  call node at DATA-0 and carrying the variable name — the turtle shape
  `sample_graph/example2.json` nodes 87/89/90 show for train_test_split
- read nodes: ``x = v.attr`` / ``x = v['k']`` on a tracked value becomes
  a node of its own with path = producer.path + [field] and a
  reads-entry pointing back at the producer (container), fed at DATA-0
  (`example2.json` nodes 95/100); ``x`` tracks the new node
- slice nodes: ``x = v.attr[a:b]`` / ``x = v[a:b]`` adds an ``is_slice``
  node (the wala/builtin/slice probe, `…Engine.java:1697-1704`) fed by
  the sliced value at position 1, path unchanged-or-attr-extended
  (`example2.json` nodes 92/93)
- attr + non-slice subscript in ONE expression (late r5): ``x =
  df.iloc[0]`` / ``df.values[i]`` / ``df.loc['a']`` mints the attr READ
  node then the access on its value — a string key is a second field
  read (bit-identical to the two-line ``t = df.loc`` / ``x = t['a']``
  form), anything else the path-unchanged selection shape
  (`example1.json` node 84); previously the one-line form dropped the
  binding entirely while the two-line form tracked
- G5 fork-join subset: calls in different arms of a top-level
  if/elif/else chain do NOT precede each other — each arm forks from the
  pre-if frontier and the first call after the chain joins every arm
  tail (plus the fall-through edge when there is no else), the CFG
  projection shape of `…Engine.java:2116-2256`.  Chains NEST (late
  r5): frames stack by the fork keyword's indentation — dedenting past
  a frame joins it innermost-first, an inner join feeds the outer
  arm's ongoing frontier and bindings, and arm keywords switch the
  frame at their own indent (frames open at top level or inside an
  open frame; class/def bodies stay out of scope).  SSA phi at the
  join (late r5): each arm starts from the
  pre-fork binding environment (arms are exclusive — no cross-arm
  leak), and the join merges the arm environments — agreeing paths
  keep the precise binding, disagreeing paths union into the
  members/element shape so a post-join method call resolves through
  the union points-to receiver when the classes agree (`if c: m =
  SVC(1) else: m = SVC(2)` then `m.fit(X)` → one fit node fed DATA-0
  by both ctors, WALA's phi value feeding the invoke); an UNCATALOGED
  method on a phi'd binding whose members share ONE turtle path
  extends that path once, fed DATA-0 by every member (late r5 —
  `if c: df = read_csv(a) else: df = read_csv(b)` then `df.dropna()`
  → one dropna node with two receiver edges; disagreeing paths stay
  out, container literals never resolve this way); an else-less
  chain phis with the PRE binding (fall-through path); fields survive
  the join only where every path stores the identical value
  (conservative field-sensitive merge); import bindings and
  instance-method aliases keep last-arm semantics (documented subset).
  try/except sibling (r5): the try body is the always-running arm,
  `except ...:`/`else:` arms fork from the pre-try frontier,
  `finally:` joins immediately (its body chains off the join), and the
  join never adds the pre fall-through edge (the try body always runs)
- one AST lowering pass (`_Lowering`) ahead of the tracker: each
  logical statement is `ast.parse`d (a block header with a `pass`
  body) and its sugar lowered, case by node type, into the core forms
  the tracker reads.  Lowered text is sliced from the statement itself,
  so `source_text` keeps the snippet's spelling; hoisted intermediates
  are `_subN_` temps, unnamed in the output.  A statement that does not
  parse (Python 2 `print 'x'`, a stray `)`) reaches the tracker
  unchanged
- lambdas (late r5): a top-level `f = lambda params: EXPR` lowers to
  the equivalent local def (`def f(params): return EXPR`) — call sites
  wire args and return values through the existing interprocedural
  machinery, bit-identical to the def form (WALA compiles a lambda as
  an anonymous function the binding names).  A `Lambda` among a
  call's ARGUMENTS (`df.apply(lambda x: np.log(x))`, `sorted(xs,
  key=lambda r: r[1])`) hoists into a synthetic def bound just before
  the call — the body's module-rooted calls mint their shared nodes
  through the def machinery, matching the reference's treatment of
  every lambda as its OWN entrypoint (`TurtleSummary.java:57-61`:
  CodeBody/comprehension/lambda bodies are analyzed whether or not
  anything invokes them), while the library INVOKING the callback
  stays out of scope (G6 subset: no return edge into the outer call).
  Lambdas inside def bodies stay out (subset)
- decorators (late r5): a bare `@mod.deco` line (a dotted name) lowers
  to the call statement `mod.deco()` — Python applies the decorator at
  def time (`f = mod.deco(f)`), so a catalog-rooted decorator mints its
  call node in the def-site control flow (WALA's decorator-application
  invoke); a parenthesized factory (`@app.route('/x')`) already flows
  through the plain call path.  Subset: the decorated def keeps its
  own name binding (wrapper identity untracked), and the factory's
  applied-result invoke stays out
- chained assignment (late r5): a multi-target `Assign` `a = b =
  Ctor()` lowers to `b = Ctor()` + `a = b` — Python assigns every
  target the same evaluated object, so the alias copy is exact and
  method calls on EITHER name resolve against the one producer
- annotated assignment (late r5): an `AnnAssign` `df: pd.DataFrame =
  RHS` lowers to `df = RHS` — type hints carry no runtime dataflow,
  and erasing them keeps the binding so later turtle extensions on df
  survive
- semicolon compound lines (late r5): a line that parses to several
  statements lowers each in turn, so `import pandas; df =
  pd.read_csv('a')` tracks like the multi-line form; a one-line
  compound body (`if x: a; b`) parses as one statement and stays whole
  (subset)
- `del a, b` (late r5): unbinds the named variables — WALA treats a
  post-del use as an unresolved read, so dropping every binding keeps
  stale producers from cross-wiring later receiver edges
- condition hoists (final r5): the leftmost dotted call of an
  `if`/`elif`/`while` test (`if df.dropna() is not None:`, `while
  m.score(X) < t:`), else its leftmost field read on a tracked name
  (`if df.empty:`), hoists into a `_subN_` temp just before the head
  — the condition evaluates on the pre path, so placement is exact for
  `if` and the walrus-style one-unrolling approximation for `while`
  and mid-chain `elif`; the head lowers again, so chains unwind
  innermost-first (`if df.isnull().sum() > 0:`).  A `for` iterable and
  a ternary condition hoist their field reads the same way.  Subset:
  dotted callees only (`len(df.dropna())` hoists the inner call, not
  len); string text is never hoisted
- subscript-write chain RHS (final r5): `df['z'] = df['a'].apply(str)`
  hoists the RHS chain into a temp (the chain split lowers it), so
  the field read + chain-final call mint AND the existing
  subscript-STORE path records the `z` write on df's producer —
  bit-identical to the two-line form
- augmented field targets (final r5): an `AugAssign` onto an
  `Attribute`/`Subscript` (`df['a'] += 1` / `df.a *= 2`) lowers to the
  exact read-then-write two-line form
- call→subscript chains (final r5): `x = df.groupby('k')['v'].mean()`
  hoists the call so the field read + trailing chain mint; a second
  bracket after a subscript access (`df.iloc[0]['name']`,
  `df['a']['b']`) lowers through the chain split the same way
- complex-index inner reads (final r5): `df2 = df[df['a'] > 0]` /
  `df[df.a > 0]` hoist each inner tracked access (minting its read)
  while the mask selection keeps the path-unchanged selection binding
- attr-chain calls on tracked values (final r5): `x = t.str.lower()` /
  `x = m.coef_.sum()` split hop-by-hop into AstPropertyReads + the
  single-hop receiver call (same tracked-base guard as pure chains)
- walrus (late r5): a `NamedExpr` `(name := EXPR)` hoists into `name =
  EXPR` just before the statement with the group replaced by the bare
  name — Python binds the walrus in the enclosing scope when the
  expression evaluates, so `if (df := read_csv(...)) is not None:`
  tracks df in the arm exactly like the two-line form.  Subset: in
  elif/while conditions the hoist evaluates once ahead of the re-test,
  the same one-unrolling approximation the loop projection takes
- multi-manager with (late r5): a `With` header with several items
  (`with A() as a, B() as b:`) lowers to consecutive single-manager
  withs — the binding is the same SSA def and `with` opens no branch
  frame, so the split preserves semantics
- literal-tuple unpack (late r5): a tuple `Assign` of a tuple literal
  (`a, b = X(), Y()`) lowers to per-element temps then alias copies
  (rhs evaluated fully first, so `a, b = b, a` swaps exactly); each
  element binds to ITS OWN rhs producer left-to-right (WALA's
  element-wise SSA over the tuple literal), the temp names never reach
  output, and a single-call rhs keeps the existing element-node path
- boolean-operator phi (late r5): `x = a or b` / `x = a and b` (plain
  names, chains allowed) — Python's boolean operators RETURN one of
  their operands, so the binding is the ternary-style phi: every
  tracked operand unions into x's member set, a later method call on x
  resolves through the union points-to receiver when the operand
  classes agree, and a consuming call's arg ordinal receives every
  operand's producer
- early exit (late r5): an arm ending in `return`/`raise` (or a bare
  `return`) is DEAD at its frame's join — it exits the function or
  raises past the chain, so it contributes neither control edges nor
  bindings to the post-chain code (the `if x: return/raise` guard
  pattern; innermost frame only, try arms excluded since a raise in a
  try body transfers to the except arms — documented subset).  Return
  phi still collects each arm's return for the call site.
- return phi (late r5): a def whose arms return DIFFERENT producers
  binds the call site's lhs as a member union (element shape), so a
  later method call on the result resolves through the union points-to
  receiver when the returned classes agree — `def mk(f): if f: return
  SVC(1) else: return SVC(2)` then `mk(x).fit(d)`-style use yields one
  fit fed DATA-0 by both ctors; a single-return def keeps the precise
  producer+class binding
- `while cond:` and `for v in x:` bodies (late r5): the one-arm loop
  form of the same projection — the body forks from the pre frontier
  (it may run zero times), the first call after it joins body tail +
  pre fall-through, and the join applies the loop-header phi (body
  rebind ∪ pre binding, the standard one-unrolling approximation; no
  back-edge in the projection — documented subset).  For `for v in
  f(...):` the iterable's call node stays on the pre frontier (it
  always runs, even at zero iterations), and the loop-var binding
  lives only on the body path (env0 excludes it)
- ``with Ctor(...) as v:`` binds v to the call's value like ``v =
  Ctor(...)`` (same SSA def in WALA); ``for v in x:`` propagates x's
  producers into the loop targets as members (EachElementGet shape);
  ``x op= a`` folds a's producers into x (G7 augmented form)
- interprocedural G3 subset: ``def f(params):`` blocks — a call-site
  arg's producer flows to the body nodes that consume the matching
  parameter (at their recorded positions; late r5: a NESTED-CALL arg
  wires its chain-final node the same way, positionally or by keyword
  — `f(np.array(x))` reaches the body exactly like `v = np.array(x);
  f(v)`), and a ``return v`` value's
  producer becomes the caller's assigned-variable producer, so receiver
  calls on the returned value chain through the function boundary (the
  arg/return turtle-flow shapes of
  `PythonTurtleAnalysisEngine.java:1970-2025`, context-insensitive like
  WALA's default; defs must precede their call sites in the snippet).
  Depth-2 (r5): a def body calling an EARLIER helper def wires
  body-local producers into the helper's parameter uses immediately,
  and values bound to the enclosing def's own parameters FORWARD —
  param-use lists and deferred receiver-calls cascade one level out so
  the outer call site resolves them (WALA's transitive call-graph reach
  through helper frames; no recursion, helpers precede callers)
- G8 call-site contexts (r5): a method call on a def PARAMETER
  (`def train(m): m.fit(X)`) defers — each call site clones it into its
  own node resolved against that site's receiver class, so calling with
  `SVC()` then `LinearRegression()` yields two fit nodes with distinct
  receiver DATA-0 edges, WALA's receiver-type + call-site contexts
  (`…Engine.java:456-486`).  Clone args: constants, other parameters
  (re-bound per site), and body-local tracked producers (those stay
  shared — body nodes themselves remain context-insensitive); the clone
  chains into the CALLER's control flow at the call site.
- comprehension value flows (r5): `[EXPR for v in xs]` (list/set/
  generator, optional `if` filter) binds the loop var to xs's elements
  (the for-statement's EachElementGet shape — WALA compiles the body as
  a hidden comprehension function), evaluates EXPR once symbolically
  through the normal call machinery (union receivers, arg ordinals),
  rebinds the lhs as a CONTAINER of the result, and restores any
  shadowed binding (comprehension scope — no loop-var leak)
- user-defined CLASS subset (r5): `class X:` blocks whose methods are
  indented defs register through the local-def machinery — `__init__`
  self-field stores become the instance field map (shared
  context-insensitive body nodes; WALA's allocation-site contexts are
  out of scope), `self.f` loads and receivers resolve eagerly inside
  LATER method bodies, instances dispatch `t.m(...)` via per-instance
  local-def aliases (arg→param-use wiring, per-call-site deferred
  receiver clones, return binding incl. `return self.f`), and
  whole-object rebinds invalidate fields AND dispatch.  Setter-pattern
  stores (`self.f = <param>` in __init__ or any method) defer to the
  dispatch site, which binds THIS instance's field from its own tracked
  argument; unresolved `self.f` args in method bodies record deferred
  uses wired per dispatch (per-instance fields over shared body nodes —
  the honest projection of WALA's object-sensitive pointer analysis,
  `…Engine.java:456-486`).  Chained instantiation (`X(a).m(b)`)
  dispatches against an anonymous instance whose deferred fields bind
  from the ctor args; the lhs tracks the method's return
- star imports (late r5): `from M import *` binds every DIRECT catalog
  child of M as a bare name resolving to its canonical qualified entry
  (exact-module resolution instead of the first-wins tail probe), with
  calls through the binding taking a DATA-0 edge from the module's
  import/member-read chain; later star imports overwrite (Python
  namespace semantics); class methods are not module members and stay
  out
- single inheritance (late r5): `class Sub(Base):` over an EARLIER
  local class seeds the subclass with the base's fields, methods, and
  __init__ record — inherited method records share the base's body
  nodes (the context-insensitive dispatch WALA's class hierarchy gives
  an inherited method), subclass call sites wire their own args and
  per-site deferred fields, and an own __init__ / same-named method
  overrides; external/dotted bases are inert (subset)
- globals in def bodies (r5): the body env seeds from the enclosing
  env minus the def's own parameters, so `def f(): m.fit(df)` over
  module-level tracked values resolves eagerly (one shared
  context-insensitive body node, WALA's resolved globals); a shadowing
  parameter wires only the call-site argument, and body stores never
  leak back out
- splat args (r5): `f(*xs)` / `f(**cfg)` union the container's tracked
  members (or a tracked value's producer) into the call at the splat's
  source ordinal (per-element ordinals are statically unknowable)
- for-over-call (r5): `for v in f(...):` binds the loop targets to the
  iterable call's chain-final node as members — `for chunk in
  pandas.read_csv(...):` flows the read into the body's consumers,
  and chained iterables (`df.iterrows()`) feed through their
  turtle-extended node

Runs as one Arrow-batched pass over (url, codes); node numbers are
sequential per page so URIs are unique within the page's named graph.
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

_IMPORT_RE = re.compile(r"^\s*(?:import|from)\s+([A-Za-z_][\w.]*)")
_PLAIN_IMPORT_RE = re.compile(r"^\s*import\s+(.+?)\s*$")
_IMPORT_ITEM_RE = re.compile(
    r"^([A-Za-z_][\w.]*)(?:\s+as\s+([A-Za-z_]\w*))?$"
)
_FROM_IMPORT_RE = re.compile(
    r"^\s*from\s+([A-Za-z_][\w.]*)\s+import\s+([A-Za-z_]\w*)"
    r"(?:\s+as\s+([A-Za-z_]\w*))?\s*$"
)
#: `from M import *` (late r5): binds every DIRECT catalog child of M
#: (one more dotted segment) as a bare name resolving to its canonical
#: qualified entry, with calls through the binding taking a DATA-0 edge
#: from the module's import/member-read chain — exact-module resolution
#: instead of the first-wins tail probe, the WALA module-namespace
#: binding shape.  Deeper members (class methods) are not module
#: namespace members and stay out.
_FROM_STAR_RE = re.compile(r"^\s*from\s+([A-Za-z_][\w.]*)\s+import\s+\*\s*$")
_CALL_RE = re.compile(r"\b([A-Za-z_][\w.]*)\s*\(")
_ASSIGN_RE = re.compile(r"^\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*=[^=]")
_STR_ARG = re.compile(r"^(?:'([^']*)'|\"([^\"]*)\")$")
#: a quoted literal with backslash escapes (`'it\'s'`)
_ESC_STR_ARG = re.compile(r"^(['\"])((?:\\.|(?!\1)[^\\])*)\1$", re.S)
_NUM_ARG = re.compile(r"^-?\d+(?:\.\d+)?$")
_NAMED_ARG = re.compile(r"^([A-Za-z_]\w*)\s*=\s*(.+)$")
_ATTR_WRITE_RE = re.compile(r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=[^=]")
_SUBSCR_WRITE_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\[\s*(?:'([^']*)'|\"([^\"]*)\")\s*\]\s*=[^=]"
)


def _str_arg(text: str):
    """The value of a string-literal argument, or None.  An escaped
    quote of the literal's own kind unescapes (`'it\\'s'` → `it's`);
    every other backslash stays as written."""
    m = _STR_ARG.match(text)
    if m:
        return m.group(1) or m.group(2) or ""
    m = _ESC_STR_ARG.match(text)
    return m and m.group(2).replace("\\" + m.group(1), m.group(1))


#: the snippet lexer — ONE left-to-right scan that finds every token
#: deciding statement structure: string literals (any prefix, single or
#: triple quotes, backslash escapes; an unterminated literal runs to the
#: end of its line, a triple-quoted one to the end of the text), `#`
#: comments, brackets, `\`-newline continuations, newlines and the
#: separator `,`.  Names and operators between tokens are skipped.
#: Every question of the form "is this inside a string, a comment or a
#: bracket?" is answered from this scan.
_LEX_RE = re.compile(
    # the leading lookahead lets the scan skip other characters quickly
    r"(?=[rRbBuUfF'\"#()\[\]{}\\\n,])"
    r"(?:(?P<str>(?P<pre>(?<!\w)[rRbBuUfF]{1,2}|)"
    r"(?:'''[^'\\]*+(?:(?:\\.|'(?!''))[^'\\]*+)*+(?:(?P<q1>''')|\\?\Z)"
    r"|\"\"\"[^\"\\]*+(?:(?:\\.|\"(?!\"\"))[^\"\\]*+)*+(?:(?P<q2>\"\"\")|\\?\Z)"
    r"|'[^'\\\n]*+(?:\\.[^'\\\n]*+)*+(?:'|(?=\n)|\\?\Z)"
    r"|\"[^\"\\\n]*+(?:\\.[^\"\\\n]*+)*+(?:\"|(?=\n)|\\?\Z)))"
    r"|(?P<com>\#[^\n]*)"
    r"|(?P<open>[(\[{])|(?P<close>[)\]}])"
    r"|(?P<cont>\\\r?\n)|(?P<nl>\n)|(?P<sep>,))",
    re.S,
)
#: max physical lines a bracket or `\` join may span (an unclosed paren
#: must not swallow the snippet); never applied inside a string literal
_MAX_SPAN = 8


def _logical_lines(lines: list[str]):
    """Assemble physical lines into logical statements — multi-line call
    spans, the G2 subset of the reference's statement-level source spans
    (`RunTurtleSingleAnalysis.java:233-259` records firstLine != lastLine
    for such calls).  A statement continues across a newline inside open
    brackets or after a `\\` for at most `_MAX_SPAN` lines, and across
    every newline inside a closed string literal.  Returns ``(first
    line, kept physical lines, statement text)`` per statement.
    Comments are cut, with the blanks before them (the tracker's
    statement regexes are `$`-anchored); a multi-line triple-quoted
    literal keeps only its delimiters — the interior is text, never
    statements, so its lines are blanked.  Explicit `\\` continuations splice
    token-tight in the statement text (`x = pandas.\\` + `read_csv(…)`
    keeps the dotted name whole); bracket spans keep their newlines."""
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


def _args(text: str) -> list[tuple[int, str]]:
    """Top-level comma items of a call's argument text, split outside
    strings and brackets: ``(offset, item)`` per non-blank item,
    stripped, offset of its first char."""
    parts, depth, start = [], 0, 0
    for m in _LEX_RE.finditer(text) if "," in text else ():
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            depth = max(0, depth - 1)
        elif kind == "sep" and not depth:
            parts.append((start, text[start:m.start()]))
            start = m.end()
    parts.append((start, text[start:]))
    return [(off + len(p) - len(p.lstrip()), p.strip())
            for off, p in parts if p.strip()]


def _close_at(text: str, start: int) -> int:
    """Offset of the first closing bracket at or after ``start`` that
    has no opener there — the end of a call's argument text;
    ``len(text)`` when the bracket never closes."""
    depth = 0
    for m in _LEX_RE.finditer(text, start):
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            if not depth:
                return m.start()
            depth -= 1
    return len(text)


def _string_at(text: str, pos: int):
    """The string-literal token covering offset ``pos``, or None."""
    if "'" not in text and '"' not in text:
        return None
    for m in _LEX_RE.finditer(text):
        if m.end() > pos:
            return m if m.start() <= pos and m.lastgroup == "str" else None
    return None


def _inert_at(text: str, pos: int) -> bool:
    """True when ``pos`` sits inside string-literal TEXT — a plain
    literal, or an f-string outside its brace regions (`{{`/`}}` are
    literal braces).  Code inside f-string braces evaluates
    (`f'{df.shape}'` is a real read); code inside plain quotes is text
    (`'df.empty'` is not)."""
    m = _string_at(text, pos)
    if m is None:
        return False
    if "f" not in m.group("pre").lower():
        return True
    seg = text[m.end("pre"):pos].replace("{{", "").replace("}}", "")
    return seg.count("{") <= seg.count("}")


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


def _span(text: str, node) -> tuple[int, int]:
    """Character offsets of ``node`` in the ``text`` it was parsed from.
    ast counts lines at ``\\r\\n``, ``\\r`` and ``\\n`` and columns in
    UTF-8 bytes, so a slice by ``col_offset`` alone breaks on non-ASCII
    text."""
    if "\r" in text:  # same length, ast's line breaks
        text = text.replace("\r\n", " \n").replace("\r", "\n")
    out = []
    for ln, col in ((node.lineno, node.col_offset),
                    (node.end_lineno, node.end_col_offset)):
        bol = 0
        for _ in range(ln - 1):
            bol = text.index("\n", bol) + 1
        if not text.isascii():
            col = len(text[bol:].encode()[:col].decode())
        out.append(bol + col)
    return out[0], out[1]


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


class _Lowering:
    """Lower a snippet's logical statements to the core forms the
    tracker reads.  Each statement is `ast.parse`d (a block header with
    a `pass` body, an `elif` as an `if`) and its sugar rewritten,
    case by node type, into statements that keep its source span.
    Emitted text is sliced from the statement itself, redundant
    parentheses included.  A statement that does not parse, such as
    Python 2 `print 'x'`, passes through unchanged.

    Hoisted intermediates are `_subN_` temps, a tuple unpack's elements
    `_unpN_i` and a lifted lambda `_lamN_`, numbered by one counter per
    snippet in emission order; `_subN_` names are stripped from
    value_names at page end, since WALA gives such an intermediate an
    SSA value with no name.  Guards read the tracker's live bindings
    (`env()`) when a statement lowers, after every statement before it
    has been tracked.  The lowerings, in the order they are tried:

    - `;`-separated statements lower one by one; a one-line compound
      body (`if x: a; b`) stays whole.
    - walrus `(name := EXPR)` → `name = EXPR` just before the
      statement, the group replaced by the name: Python binds the walrus
      in the enclosing scope when the expression evaluates.  In
      elif/while heads this is the one-unrolling approximation the loop
      projection already takes.
    - annotated assignment `df: T = RHS` → `df = RHS` (hints carry no
      runtime dataflow).
    - `if`/`elif`/`while` heads hoist the leftmost dotted call with flat
      args (`if df.dropna() is not None:`), else the leftmost field read
      on a tracked name (`if df.empty:`, `if df['a'] is None:`), into a
      temp before the head; a `for` iterable hoists its field reads
      (iterable calls keep the tracker's for-over-call path).  The head
      lowers again, so chains unwind innermost-first (`if
      df.isnull().sum() > 0:`).  Bare callees (`len(…)`) stay put.
    - `with A() as a, B() as b:` → one `with` per item (`with` opens
      no branch frame, so the split keeps semantics).
    - a bare decorator `@mod.deco` → the call `mod.deco()`: Python
      applies it at def time, so a catalog decorator mints its call in
      the def-site control flow.  A factory (`@app.route('/x')`) is
      already a call; the decorated def keeps its own name.
    - assignment to a name: a ternary hoists the field reads of its
      condition (it always evaluates; the arms keep the tracker's phi);
      chained `a = b = RHS` → `b = RHS` + `a = b` (every target gets
      the one evaluated object); then the chain splits below, a binop
      of subscripts, a complex index, and a top-level `f = lambda
      params: EXPR` → `def f(params):` + `    return EXPR`.
    - postfix chains, assigned or bare:
      - call → subscript: `x = df.groupby('k')['v'].mean()` hoists the
        call, so the subscript chain lowers on its value;
      - call arguments: at a call of a local def, call-shaped args hoist
        into temps so its G3/G8 wiring sees bound values; at any call,
        subscript-chain args (`pandas.concat(df['c'].values)`) hoist.
        Args evaluate before the call, so the order is exact;
      - attribute chains on a tracked name (`x = m.coef_.T`, `x =
        s.str.lower()`, `df.plot.bar()`) split hop by hop into the
        single-attribute reads the tracker mints; a call-ended chain
        needs a base with no field store or container binding;
      - subscript chains (`x = df['c'].sum()`, `x = df.iloc[0]['n']`,
        `df['a'].plot()`): the access hoists and the chain extends the
        turtle, instead of a tail-token catalog guess.  A container base
        (`models[0].fit(x)`) stays whole for the tracker's element
        receiver, and a bare chain needs a tracked base.
    - binop of subscripts (`x = df['a'] + df['b']`, `df['n'] = df['a']
      * k`): each subscript operand hoists, so its read node mints.  The
      string-key × string-key form stays whole for the semForms
      expression miner.
    - a complex index (`df2 = df[df['a'] > 0]`) hoists its dotted calls,
      then its field reads on tracked names; the mask selection stays.
    - a subscript write of a subscript-chain value (`df['z'] =
      df['a'].apply(str)`) hoists the value for the tracker's store.
    - augmented field target `df['a'] += 1` / `df.a *= 2` → read into a
      temp, then `df['a'] = _subN_ + 1` (read, evaluate, write).
    - tuple unpack of a tuple literal `a, b = X(), Y()` → `_unpN_0 =
      X()`, `_unpN_1 = Y()`, then `a = _unpN_0`, `b = _unpN_1`: the
      whole rhs evaluates first, so `a, b = b, a` swaps.
    - last, a lambda among the call arguments of a top-level statement
      hoists into a def `_lamN_` bound just before it (lambda bodies are
      entrypoints, `TurtleSummary.java:57-61`); the library invoking it
      stays out of scope, so no return edge flows into the call.
    """

    def __init__(self, env):
        # env() -> (var_producer, var_members, var_fields, local_defs)
        self.env = env
        self.n = 0

    def tmp(self, kind="sub"):
        self.n += 1
        return f"_{kind}{self.n - 1}_"

    def __call__(self, stmt: str):
        """Yield the core statements ``stmt`` lowers to."""
        for _ in range(_MAX_STEPS):  # a loop, not recursion: a long tail
            stmt = yield from self.step(stmt)
            if stmt is None:
                return
        yield stmt

    def step(self, stmt: str):
        """Yield the statements that lower ahead of ``stmt``; return the
        statement left to lower after them, or None."""
        text = stmt.lstrip()
        ind = stmt[:len(stmt) - len(text)]
        text = text.rstrip()
        if not text:
            yield stmt
            return None
        if text[0] == "@":
            try:
                deco = ast.parse(text[1:], mode="eval").body
            except _UNPARSED:
                deco = None
            yield f"{ind}{text[1:]}()" if _dotted(deco) else stmt
            return None
        lead, code = "", text
        if text.endswith(":"):
            if text.startswith("elif"):
                lead, text = "el", text[2:]
            code = text + " pass"
        try:
            body = ast.parse(code).body
        except _UNPARSED:
            body = None
        if not body:
            yield stmt
            return None
        st = _Stmt(body[-1], ind, ind + lead, text, code is not text)
        if len(body) > 1 or text.endswith(";"):
            for s in body[:-1]:
                yield from self(ind + st.seg(s))
            return ind + st.seg(body[-1])
        out = self.lower(st)
        if out is None:
            yield stmt
            return None
        return out if type(out) is str else (yield from out)

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
                    (f"{st.ind}{ts[i].id} = {ts[i + 1].id}"
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
                return (f"def {t.id}({params}):",
                        f"    return {st.src(v.body, v)}")
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
            hits = hits or [a for a in args if _subscr_chain(a)]
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
            yield f"{ind}{name} = {base}{i}"

    def lift(self, st, lam, params):
        name = self.tmp("lam")
        yield f"def {name}({params}):"
        yield f"    return {st.src(lam.body, lam)}"
        a, b = st.span(lam)
        return st.pre + st.text[:a] + name + st.text[b:]


class _Stmt(NamedTuple):
    """One parsed statement: its node, indentation, the prefix the parse
    left off (``ind`` plus the `el` of an `elif`), its parsed text and
    whether it is a block header."""
    node: ast.stmt
    ind: str
    pre: str
    text: str
    header: bool

    def span(self, node):
        return _span(self.text, node)

    def extent(self, node, parent=None):
        """The span of ``node`` widened over the parentheses that only
        group it: those inside ``parent``'s own brackets (the parentheses
        of a call are not its argument's)."""
        text = self.text
        a, b = self.span(node)
        lo, hi = self.span(parent) if parent is not None else (0, len(text))
        if type(parent) is ast.Call and node is not parent.func:
            lo, hi = text.index("(", self.span(parent.func)[1]) + 1, hi - 1
        while True:
            i = len(text[:a].rstrip()) - 1
            j = len(text) - len(text[b:].lstrip())
            if not (lo <= i and j < hi and text[i] == "("
                    and text[j] == ")"):
                return a, b
            a, b = i, j + 1

    def seg(self, node):
        a, b = self.span(node)
        return self.text[a:b]

    def src(self, node, parent=None):
        """The text of ``node``'s extent in ``parent`` (None: the whole
        statement)."""
        a, b = self.extent(node, parent)
        return self.text[a:b]

    def grouped(self, tup):
        """A tuple written in parentheses of its own."""
        return self.extent(tup.elts[0], tup)[0] > self.span(tup)[0]

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


#: the statement-kind cases of the lowering
_CASES = {
    ast.AnnAssign: _Lowering.annotated,
    ast.If: _Lowering.condition, ast.While: _Lowering.condition,
    ast.For: _Lowering.condition, ast.With: _Lowering.with_items,
    ast.Assign: _Lowering.assign, ast.AugAssign: _Lowering.aug_assign,
    ast.Expr: _Lowering.expr,
}


_ATTR_READ_RE = re.compile(
    r"(?<![\w.])([A-Za-z_]\w*)\.([A-Za-z_]\w*)(?![\w.])(?!\s*\()"
)
_CONTAINER_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*[\[\({](.*)[\]\)}]\s*$", re.S
)
_DEF_RE = re.compile(r"^def\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*:\s*$")
#: top-level `class X:` / `class X(Base):` — user-defined class (r5
#: honest subset: methods indented once, no inheritance resolution)
#: captures the FIRST base name when present — a base that names an
#: earlier local class seeds the subclass with its fields/methods/ctor
#: (single inheritance, late r5; external/dotted bases are inert)
_CLASS_RE = re.compile(
    r"^class\s+([A-Za-z_]\w*)\s*"
    r"(?:\(\s*([A-Za-z_]\w*)?[^)]*\))?\s*:\s*$"
)
#: `x = a or b [or c …]` / mixed and/or over plain names (late r5) —
#: Python's boolean operators RETURN one of their operands, so the
#: binding is the ternary-style phi: every tracked operand unions into
#: x's member set (`…Engine.java:596-674`'s phi over short-circuit arms)
_BOOLOP_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)"
    r"((?:\s+(?:or|and)\s+[A-Za-z_]\w*)+)\s*$"
)
_BOOLOP_OPERAND_RE = re.compile(r"(?:or|and)\s+([A-Za-z_]\w*)")
#: `del a, b` (late r5) — unbinds the named variables: WALA treats a
#: post-del use as an unresolved read, so dropping every binding keeps
#: stale producers from cross-wiring later receiver edges
_DEL_STMT_RE = re.compile(
    r"^\s*del\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*$"
)
#: a method def INSIDE an open class block (indented `def`)
_METHOD_DEF_RE = re.compile(
    r"^\s+def\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*:\s*$"
)
#: `return self.f` from a method — the def's return producer is the
#: instance field's stored value
_RETURN_SELF_FIELD_RE = re.compile(
    r"^\s+return\s+self\.([A-Za-z_]\w*)\s*$"
)
#: a bare `self.f` call argument inside a method body whose field is
#: not (yet) in the class field map — deferred to the dispatch site,
#: which binds the INSTANCE's field (setter-pattern stores)
_SELF_FIELD_RE = re.compile(r"^self\.([A-Za-z_]\w*)$")
_ATTR_ASSIGN_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$"
)
_WITH_RE = re.compile(r"^\s*with\s+(.+?)\s+as\s+([A-Za-z_]\w*)\s*:\s*$")
_FOR_RE = re.compile(
    r"^\s*for\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+in\s+"
    r"([A-Za-z_]\w*)\s*:\s*$"
)
_AUG_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*[-+*/%&|]=\s*([A-Za-z_]\w*)\s*$"
)
#: `for v in <call expression>:` — the iterable is a call made on this
#: line; its chain-final node feeds the loop targets as members
_FOR_CALL_RE = re.compile(
    r"^\s*for\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+in\s+"
    r"(\S.*?)\s*:\s*$", re.S
)
_IF_RE = re.compile(r"^if\s.*:\s*$")
_ELIF_ELSE_RE = re.compile(r"^(?:elif\s.*|else\s*):\s*$")
#: `while cond:` — the one-arm loop shape of the same CFG projection:
#: the body forks from the pre frontier (it may run zero times), the
#: first call after it joins body tail + pre fall-through, and bindings
#: phi like an else-less if (loop-header phi after one unrolling; no
#: back-edge in the projection — documented subset).  A trailing
#: `else:` is treated as a plain alternative arm (subset).
_WHILE_RE = re.compile(r"^while\s.*:\s*$")
#: try/except fork-join (G5 sibling of if/elif): the try body is the
#: always-running arm, `except ...:`/`else:` arms fork from the pre-try
#: frontier, `finally:` joins immediately (its body runs after every arm)
_TRY_RE = re.compile(r"^try\s*:\s*$")
_EXCEPT_ELSE_RE = re.compile(r"^(?:except\b[^:]*|else\s*):\s*$")
_FINALLY_RE = re.compile(r"^finally\s*:\s*$")
#: `ys = [EXPR for v in xs]` (list/set/generator, optional `if` filter)
#: over a PLAIN-VARIABLE source — WALA's comprehension body is a hidden
#: function whose parameter binds per element (EachElementGet), and the
#: comprehension VALUE is a container of the expression's results
_COMPR_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*[\[({]\s*(.+?)\s+for\s+([A-Za-z_]\w*)"
    r"\s+in\s+([A-Za-z_]\w*)(?:\s+if\s+[^\])}]+)?\s*[\])}]\s*$", re.S
)
_SUBSCR_READ_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\[\s*(?:'([^']*)'|\"([^\"]*)\")\s*\]\s*$"
)
_SLICE_ASSIGN_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)(?:\.([A-Za-z_]\w*))?"
    r"\[([^\]]*:[^\]]*)\]\s*$"
)
#: `x = v.attr[<idx>]` with a NON-slice index (`df.iloc[0]`,
#: `df.values[i]`, `df.loc['a']`) — the colonless sibling of
#: _SLICE_ASSIGN_RE's attr form: the reference materializes the attr
#: READ node, then the access on its value (a string key is a second
#: field read, anything else the whole-subscript selection shape of
#: `example1.json` node 84).  Without this the binding dropped entirely
#: (late r5): the two-line form `t = df.iloc` / `x = t[0]` tracked, the
#: one-line form lost x.
_ATTR_SUBSCR_SEL_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)"
    r"\[([^\]:]+)\]\s*$"
)
_SUB_TMP_RE = re.compile(r"^_sub\d+_$")
#: `x = v[<any expression>]` — whole-subscript selection on a tracked
#: value whose index is too complex for the string-key/simple-slice
#: forms (nested brackets, computed slices); the reference mints a
#: subscript-read node with path = producer.path fed at DATA-0
#: (`sample_graph/example1.json` node 84, `X = data[data.columns[:…]]`)
_SUBSCR_SEL_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\[(.+)\]\s*$", re.S
)
#: the index expression of a whole-subscript selection when it slices an
#: attribute of a tracked value (`data.columns[:len(data.columns)-1]`) —
#: the reference materializes the inner read→slice chain
_INNER_ATTR_SLICE_RE = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\[(.*:.*)\]$", re.S
)
#: a call argument that is a binary op over two atoms (number, string,
#: call expression, or plain variable) — the reference mints a turtle
#: `<operand-path>.expr` node with operands at 0-based ordinals
#: (`example2.json` node 102: `kernel=1.0 * RBF(1.0)`)
_EXPR_ATOM = (r"(-?\d+(?:\.\d+)?|'[^']*'|\"[^\"]*\""
              r"|[A-Za-z_][\w.]*\([^()]*\)|[A-Za-z_]\w*)")
_ARG_BINOP_RE = re.compile(
    rf"^{_EXPR_ATOM}\s*[-+*/%&|]\s*{_EXPR_ATOM}$"
)
_RETURN_RE = re.compile(r"^\s+return\s+([A-Za-z_]\w*)\s*$")
#: `return a, b` — tuple return of plain variables from a local def;
#: call-site unpack binds each lhs to the matching producer
_RETURN_TUPLE_RE = re.compile(
    r"^\s+return\s+([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)+)\s*$"
)
#: `return <call expression>` inside a def body — the expression's
#: (chain-final) node becomes the def's return producer
_RETURN_EXPR_RE = re.compile(r"^\s+return\s+(\S.*)$")
_ALIAS_RE = re.compile(r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*$")
#: `obj.field` / `obj['field']` as a whole argument expression — the
#: load half of the untracked-object field store/load pair
_FIELD_REF_RE = re.compile(
    r"^([A-Za-z_]\w*)(?:\.([A-Za-z_]\w*)"
    r"|\[\s*(?:'([^']*)'|\"([^\"]*)\")\s*\])$"
)
#: `x = a if cond else b` — WALA's phi: both arms flow into x
_TERNARY_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s+if\s+.+?\s+else\s+"
    r"([A-Za-z_]\w*)\s*$"
)
#: `xs.append(v)` on an untracked variable — container membership add
_APPEND_RE = re.compile(r"^\s*([A-Za-z_]\w*)\.append\(\s*(.+?)\s*\)\s*$")
#: `obj[0].` / `obj['k'].` immediately preceding a method-call name —
#: subscript element/field load used as the call's receiver (anchored at
#: the end of the prefix slice line[:call_start])
_SUBSCR_RECV_RE = re.compile(
    r"([A-Za-z_]\w*)\[\s*(?:(\d+)|'([^']*)'|\"([^\"]*)\")\s*\]\.$"
)
_BINOP_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*=\s*"
    r"([A-Za-z_]\w*(?:\s*[-+*/%&|]\s*[A-Za-z_0-9.]+)+)\s*$"
)
#: semForms expression shape: an assignment whose rhs is a binary op
#: over two string-subscript reads — `x = a['p'] / b['q']` or
#: `v['t'] = v['p'] * v['q']` (groups: 1 plain lhs | 2-4 lhs
#: receiver+field, 5-7 rhs1 receiver+field, 8 op, 9-11 rhs2)
_SUBSCR = r"([A-Za-z_]\w*)\[\s*(?:'([^'\]]*)'|\"([^\"\]]*)\")\s*\]"
_EXPR_BINOP_RE = re.compile(
    r"^\s*(?:([A-Za-z_]\w*)|" + _SUBSCR + r")\s*=\s*"
    + _SUBSCR + r"\s*([-+*/])\s*" + _SUBSCR + r"\s*$"
)


#: one dict-literal entry `'key': VALUE` (string key, any value text)
_DICT_ENTRY_RE = re.compile(
    r"^\s*(?:'([^']*)'|\"([^\"]*)\")\s*:\s*(\S.*)$", re.S
)


def _dict_literal_fields(line, m, var_producer, var_klass,
                         line_call_nodes=None, line_call_klass=None):
    """key → (producer, klass) for a ``{...}`` container literal with
    string keys whose values are tracked variables or calls made on this
    line — so a later keyed load (``cfg['m'].fit(x)`` /
    ``r = cfg['m']``) resolves exactly like the subscript-STORE form
    (``cfg['m'] = SVC()``): WALA's ObjectLiteral fieldStore at
    allocation (`…Engine.java:1892-1954`'s AstPropertyWrite def-use,
    reached through the literal's per-key stores).  Digit keys stay out
    (the emitters read digit fields as node references)."""
    if m.start(2) < 1 or line[m.start(2) - 1] != "{":
        return {}
    out = {}
    inner = m.group(2)
    for off, part in _args(inner):
        km = _DICT_ENTRY_RE.match(part)
        if not km:
            continue
        key = km.group(1) if km.group(1) is not None else km.group(2)
        if not key or key.isdigit():
            continue
        val = km.group(3).strip()
        if val in var_producer:
            out[key] = (var_producer[val], var_klass.get(val))
        elif line_call_nodes:
            voff = m.start(2) + off + (len(part) - len(km.group(3)))
            if voff in line_call_nodes:
                out[key] = (
                    line_call_nodes[voff],
                    (line_call_klass or {}).get(voff),
                )
    return out


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
    by_name, methods_of, modules, tail_first = flow_catalog
    return _page_nodes(url, codes, by_name, methods_of, modules, tail_first)


def extract_page_expressions(
    url: str, codes: list[str], flow_catalog
) -> list[dict]:
    """Dataflow-normalized semForms expression extraction (the reference
    mines expressions OUT of analysis output — graph-derived, not raw
    text: `/root/reference/semForms/automl_eval/semforms.py:54-78`
    consumes the expression index the analysis service builds).

    Runs the SAME per-page def-use tracking as the flow-node extractor
    and records every binary-op-over-subscript-reads assignment whose
    receivers are all TRACKED values, with receivers canonized by
    PRODUCER IDENTITY in first-occurrence order (``df0``, ``df1``, …):

    - aliased receivers unify — `h = df; out = h['a'] / df['b']` mines
      `df0['a'] / df0['b']` (one frame), where the raw-text regex
      normalization cannot see the alias;
    - distinct frames stay distinct — `out = a['p'] / b['q']` over two
      read_csv results mines `df0['p'] / df1['q']`, which the regex
      path would wrongly conflate with the within-frame transform;
    - untracked receivers (a config dict, an unknown name) mine nothing
      — the reference only indexes expressions over analysis-tracked
      values.

    Returns dicts ``{"code", "bases"}`` — ``bases`` is the dotted
    producer path per canonical frame, in df0/df1 order (graph
    provenance the raw-text path cannot produce)."""
    by_name, methods_of, modules, tail_first = flow_catalog
    exprs: list[dict] = []
    _page_nodes(url, codes, by_name, methods_of, modules, tail_first,
                exprs=exprs)
    return exprs


#: sentinel `path_end` for a page the fault barrier dropped
PAGE_ERROR_SENTINEL = "__page_error__"


def _page_error_row(url: str, exc: Exception) -> dict:
    """Sentinel row for a page whose extraction raised: `node_number = -1`
    (real node numbers start at the per-page base), exception class in
    `normalized_label`, truncated message in `source_text`.  Counted by
    the caller's `observe()` then filtered — one bad page must never
    fail a 10^12-page stage."""
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
    """Per-page fault barrier around the straight-line extractor: a page
    whose snippets break the tracker yields ONE sentinel row instead of
    killing the task (and with it the stage, at web scale).  The raw
    `extract_page_flow_nodes` keeps raising — tests and golden-parity
    paths want hard failures; only the distributed Arrow UDF isolates."""
    try:
        return (extractor or extract_page_flow_nodes)(url, codes, flow_catalog)
    except Exception as exc:  # noqa: BLE001 — barrier by design
        return [_page_error_row(url, exc)]


def extract_flow_nodes(qa: DataFrame, catalog_records: list[dict],
                       error_observation: Observation | None = None) -> DataFrame:
    """(url, codes) → ANALYSIS_NODES_SCHEMA rows, graph_uri = page url.

    Per-page fault barrier: a page whose extraction raises contributes a
    sentinel row (`node_number = -1`), always filtered before return.
    When given, `error_observation` receives ``pages_failed`` (sentinel
    rows) and ``rows_seen`` (rows before the filter) once an action has
    run the result (`observe()` lineage, same discipline as
    `materialize.py`)."""
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
    """StackOverflow-style code blocks are often REPL transcripts
    (`>>> df = read_csv(...)` with interleaved output, or IPython
    `In [1]:` cells).  When prompt lines are present, keep ONLY the
    prompt/continuation lines with the prompt stripped and drop the
    output lines — the statements a user actually typed.  Blocks with
    no prompts pass through untouched.  (Snippet repair beyond the
    reference, which stores forum snippets as literals without
    analyzing them; the flow extractor analyzes them, so transcripts
    would otherwise yield nothing.)"""
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


def _page_nodes(url, codes, by_name, methods_of, modules, tail_first,
                exprs=None):
        nodes: list[dict] = []
        idx_of: dict[int, int] = {}  # node_number -> index in `nodes` (O(1) edge wiring)
        counter = 0
        for code in codes or []:
            lines = _strip_repl_transcript(code.split("\n"))
            var_producer: dict[str, int] = {}   # var -> node number
            var_klass: dict[str, str] = {}      # var -> class name
            var_members: dict[str, list] = {}   # var -> producer node numbers inside a container literal
            # G4 bound-method candidates: `m = obj.meth` (meth a known
            # method of obj's class) -> (read_node_num, recv_producer,
            # method path).  Never explicitly cleared: a fuse is only
            # valid while var_producer[m] still IS the recorded read
            # node, so any reassignment self-invalidates the entry.
            var_bound: dict[str, tuple] = {}
            # G8 members subset: node number -> class it constructs.
            # Append-only and keyed by the immutable node number, so it
            # can never go stale (unlike variable-keyed class bindings);
            # lets method calls resolve through containers/loops whose
            # members are tracked ctor results (`for m in models:
            # m.fit(x)` — WALA's union points-to receiver).
            node_klass: dict[int, str] = {}
            # vars holding an ELEMENT of a container (for-loop targets
            # and their aliases) — only these may resolve methods via
            # members: the container variable itself is a list, not an
            # instance (`ms.fit(x)` must stay unresolved).  A fuse is
            # valid only while var_members[v] still equals the recorded
            # element list, so rebinds self-invalidate.
            var_elem: dict[str, list] = {}
            # G2 field store/load through UNTRACKED objects (the def-use
            # half of `…Engine.java:1892-1954`'s AstPropertyWrite→Read
            # chaining WALA resolves via pointer analysis): storing a
            # tracked value into `obj.field` / `obj['field']` records
            # (producer, class); a later load of the same field — as an
            # assignment rhs or a whole call argument — propagates the
            # stored value (no intermediate node: when obj is not a
            # turtle the store/load pair is SSA plumbing, not a graph
            # node).  Whole-object rebinds drop the map entry.
            var_fields: dict[str, dict[str, tuple]] = {}
            prev_in_snippet: list[int] = []     # indices of the CFG frontier
            # G5 fork-join: a STACK of open if/while/try frames (late r5
            # — nested chains join innermost-first on dedent); each
            # frame holds {"indent": the keyword line's indentation,
            # "pre": frontier before the fork, "tails": per-arm
            # frontiers, "env0"/"env_tails": the phi snapshots}
            branch_stack: list[dict] = []
            # interprocedural G3 subset: name -> {params, param_uses
            # (param -> [(node_number, use_pos)]), ret producer, ret class}
            local_defs: dict[str, dict] = {}
            cur_def: dict | None = None
            outer_env: tuple | None = None
            # user-defined CLASS subset (r5): name -> {"fields": the
            # __init__ self-field stores (field -> (producer, klass)),
            # "methods": method name -> def record (params minus self)}.
            # Instances carry the field map; their methods dispatch
            # through the local-def machinery via per-instance aliases.
            # Body nodes are shared across instances (context-
            # insensitive, like def bodies — WALA's allocation-site
            # contexts are outside the honest subset).
            local_classes: dict[str, dict] = {}
            cur_class: dict | None = None
            inst_methods: dict[str, list] = {}  # var -> its method alias keys
            inst_counter = 0  # anonymous chained-instance names (`X(a).m(b)`)
            # import aliasing: `import pandas as pd` / `from sklearn
            # import svm as s` / `from sklearn.svm import SVC as Clf` —
            # alias -> canonical dotted prefix, applied to call names
            # before catalog resolution (WALA resolves through the
            # module binding the same way).  Plain `from M import N`
            # binds N, and a plain dotted `import a.b.c` binds the LEAF
            # name c (WALA's Python frontend shape — the reference's own
            # example1.py calls bare `train_test_split` after
            # `import sklearn.model_selection.train_test_split`).
            aliases: dict[str, str] = {}
            # binding name -> node number of the import/member-read node
            # the binding holds: calls THROUGH the binding get a DATA-0
            # edge from it (`example2.json`: import pandas(74) →0→
            # read_csv(85); member-read sklearn.svm(78) →0→ SVC(101))
            alias_src: dict[str, int] = {}
            # `from a.b import N` materializes member-read nodes for the
            # module segments after the root (NOT for N itself), the last
            # carrying an importTree<k> temp name; `from a import N`
            # reads N directly (vn = bound name) — example2.json nodes
            # 78/81/82, example3.json nodes 75/79
            import_tree_counter = 0

            def import_member_chain(segs, ln, phys):
                """Emit the import node + member-read chain for dotted
                module segments; returns the last node's number."""
                inode = new_node([segs[0]], ln, phys, segs[0], is_import=True)
                prev_num, prev_path = inode["node_number"], [segs[0]]
                for seg in segs[1:]:
                    rnode = new_node(prev_path + [seg], ln, phys, seg)
                    rnode["reads"] = [{"container": [prev_num], "field": seg}]
                    rnode["constant_positional_args"]["1"] = seg
                    src = nodes[idx_of[prev_num]]
                    src["flows_to"] = _append_flow(
                        src["flows_to"], "0", rnode["node_number"]
                    )
                    prev_num = rnode["node_number"]
                    prev_path = prev_path + [seg]
                return prev_num

            def new_node(path, line_no, phys, text, is_import=False):
                nonlocal counter, prev_in_snippet
                n = {
                    "graph_uri": url,
                    "node_number": counter,
                    "path": path,
                    "path_end": path[-1],
                    "normalized_label": ".".join(path),
                    "is_import": is_import,
                    "is_slice": False,
                    "flows_to": {},
                    "immediately_precedes": [],
                    "reads": [],
                    "writes": [],
                    "constant_positional_args": {},
                    "constant_named_args": {},
                    "value_names": [],
                    "source_location": {
                        "first_line": line_no + 1,
                        "last_line": line_no + len(phys),
                        "first_col": 0, "last_col": len(phys[-1]),
                        "first_offset": None, "last_offset": None, "url": url,
                    },
                    "source_text": text,
                    "source_lines": list(phys),
                }
                counter += 1
                for p in prev_in_snippet:
                    nodes[p]["immediately_precedes"] = nodes[p][
                        "immediately_precedes"
                    ] + [n["node_number"]]
                prev_in_snippet = [len(nodes)]
                idx_of[n["node_number"]] = len(nodes)
                nodes.append(n)
                return n

            def field_ref(text):
                """Producer stored under `obj.field`/`obj['field']`, or
                None — resolves whole-argument field loads against the
                var_fields store (current binding via closure)."""
                fr = _FIELD_REF_RE.match(text)
                if not fr:
                    return None
                field = fr.group(2) or fr.group(3) or fr.group(4)
                ent = var_fields.get(fr.group(1), {}).get(field)
                return ent[0] if ent is not None else None

            def tracked_field(text):
                """(producer, field) for `v.attr` / `v['k']` where v is a
                TRACKED turtle — the reference mints a read NODE per arg
                occurrence, fed DATA-0 by the container and flowing at
                the arg's ordinal (`example2.json` node 88:
                `stratify=data['Dataset']` → Dataset read '4'→ tts)."""
                fr = _FIELD_REF_RE.match(text)
                if not fr or fr.group(1) not in var_producer:
                    return None
                field = fr.group(2) or fr.group(3) or fr.group(4)
                if not field or field.isdigit():
                    return None
                return var_producer[fr.group(1)], field

            def mint_field_read(prod_field, text, ln, phys):
                p, field = prod_field
                rnode = new_node(
                    list(nodes[idx_of[p]]["path"]) + [field], ln, phys, text
                )
                rnode["reads"] = [{"container": [p], "field": field}]
                rnode["constant_positional_args"]["1"] = field
                psrc = nodes[idx_of[p]]
                psrc["flows_to"] = _append_flow(
                    psrc["flows_to"], "0", rnode["node_number"]
                )
                return rnode["node_number"]

            def _env_snap():
                """Copy the value-binding environment at a fork point
                (the five dicts an arm may rewrite; import bindings and
                instance-method aliases keep last-arm semantics — the
                documented subset)."""
                return (
                    dict(var_producer),
                    dict(var_klass),
                    {k: list(v) for k, v in var_members.items()},
                    {k: list(v) for k, v in var_elem.items()},
                    {k: dict(v) for k, v in var_fields.items()},
                )

            def _env_restore(snap):
                for live, saved in zip(
                    (var_producer, var_klass, var_members, var_elem,
                     var_fields), snap,
                ):
                    live.clear()
                    live.update(saved)

            def _env_phi(paths):
                """SSA phi at a fork-join (WALA's phi values feeding the
                `GraphSlicer` projection): merge per-arm binding
                environments into the live dicts.  Paths that agree keep
                the precise binding; paths that disagree union into the
                members/element shape, so a later method call resolves
                through the union points-to receiver (`node_klass`, the
                same machinery as loop elements and ternary).  Fields
                survive only where every path stores the identical
                (producer, class) — the conservative projection of
                WALA's field-sensitive merge."""
                names: set[str] = set()
                for pr, _kl, mem, _el, _fl in paths:
                    names |= set(pr) | set(mem)
                var_producer.clear()
                var_klass.clear()
                var_members.clear()
                var_elem.clear()
                for v in sorted(names):
                    reprs = []
                    for pr, kl, mem, el, _fl in paths:
                        if v in pr:
                            reprs.append(("P", pr[v], kl.get(v)))
                        elif v in mem:
                            reprs.append((
                                "M", tuple(mem[v]),
                                tuple(el.get(v, ())) == tuple(mem[v]),
                            ))
                        else:
                            reprs.append(None)
                    bound = [r for r in reprs if r is not None]
                    if all(r == bound[0] for r in bound):
                        kind = bound[0]
                        if kind[0] == "P":
                            var_producer[v] = kind[1]
                            if kind[2] is not None:
                                var_klass[v] = kind[2]
                        else:
                            var_members[v] = list(kind[1])
                            if kind[2]:
                                var_elem[v] = var_members[v]
                        continue
                    union: list[int] = []
                    for r in bound:
                        for p in ([r[1]] if r[0] == "P" else r[1]):
                            if p not in union:
                                union.append(p)
                    var_members[v] = union
                    # element-receiver dispatch only when some path held
                    # an instance (or element union) — a phi of plain
                    # containers stays a container
                    if any(r[0] == "P" or (r[0] == "M" and r[2])
                           for r in bound):
                        var_elem[v] = var_members[v]
                objs: set[str] = set()
                for _pr, _kl, _mem, _el, fl in paths:
                    objs |= set(fl)
                var_fields.clear()
                for o in objs:
                    per = [p[4].get(o) for p in paths]
                    if any(d is None for d in per):
                        continue
                    common = {f: t for f, t in per[0].items()
                              if all(d.get(f) == t for d in per[1:])}
                    if common:
                        var_fields[o] = common

            def _frame_arm_fin(fr, stripped):
                """(arm-match, finally-match) of this statement for the
                given frame — try frames take except/else + finally,
                if/while frames take elif/else."""
                fin_ = (_FINALLY_RE.match(stripped)
                        if fr.get("is_try") else None)
                arm_ = None if fin_ else (
                    _EXCEPT_ELSE_RE.match(stripped)
                    if fr.get("is_try")
                    else _ELIF_ELSE_RE.match(stripped)
                )
                return arm_, fin_

            def _join_frame(fr, cur_frontier):
                """Join a fork frame: frontier = union of arm tails
                (+ pre when the chain can fall through); bindings phi
                the same paths.  An arm that ended in `return`/`raise`
                is DEAD — it exits the function/raises past the join,
                so it contributes neither control edges nor bindings
                (the early-exit CFG shape; late r5).  Returns the
                joined frontier."""
                tails = list(fr["tails"])
                paths = list(fr["env_tails"])
                if not fr.get("dead"):
                    tails.append(cur_frontier)
                    paths.append(_env_snap())
                joined: list[int] = []
                for t in tails:
                    for p in t:
                        if p not in joined:
                            joined.append(p)
                if not fr["has_else"]:
                    for p in fr["pre"]:
                        if p not in joined:
                            joined.append(p)
                if not fr["has_else"]:
                    paths.append(fr["env0"])
                if not paths:
                    # every arm exited early and the chain had an else:
                    # the post-join code is unreachable — fall back to
                    # the pre state (pragmatic; keeps extraction total)
                    paths = [fr["env0"]]
                    joined = joined or list(fr["pre"])
                _env_phi(paths)
                return joined

            def _mark_arm_dead():
                """A `return`/`raise` INSIDE an open non-try frame's arm
                kills that arm's path to the join (innermost frame only
                — documented subset; try arms are excluded because a
                raise in a try body transfers to the except arms)."""
                if branch_stack and not branch_stack[-1].get("is_try"):
                    ind = len(line) - len(line.lstrip())
                    if ind > branch_stack[-1]["indent"]:
                        branch_stack[-1]["dead"] = True

            def _drain_frames():
                """Join every open frame innermost-first — called when a
                def body closes so its local frames phi under the BODY
                env before the outer env is restored (frames never
                outlive the scope that opened them: top-level def/class
                statements join all top-level frames before opening)."""
                nonlocal prev_in_snippet
                while branch_stack:
                    prev_in_snippet = _join_frame(
                        branch_stack.pop(), prev_in_snippet
                    )

            lower = _Lowering(
                lambda: (var_producer, var_members, var_fields, local_defs))
            for ln, phys, line in (
                (ln_, phys_, low) for ln_, phys_, stmt in _logical_lines(lines)
                for low in lower(stmt)
            ):
                # blank lines are not statements: a blank line between an
                # if-arm and its elif/else must not join the open branch
                # chain, and a blank line inside a def body must not end
                # the def block (ADVICE r3: line[:1] classified "" as a
                # top-level statement)
                if not line.strip():
                    continue
                if cur_def is not None:
                    first = line[:1]
                    if first in (" ", "\t"):
                        mm_next = (_METHOD_DEF_RE.match(line)
                                   if cur_class is not None else None)
                        if mm_next:
                            # next method def at class indent: drain the
                            # body's open frames (phi under the body
                            # env), register the finished method while
                            # its def-local env is live, then open the
                            # new one (fresh env, self fields pre-bound
                            # so body loads of __init__ stores resolve
                            # eagerly)
                            _drain_frames()
                            if cur_def["name"] == "__init__":
                                cur_class["fields"] = dict(
                                    var_fields.get("self", {})
                                )
                                d_ = dict(cur_def)
                                d_["params"] = [p for p in d_["params"]
                                                if p != "self"]
                                local_defs[cur_class["name"]] = d_
                            else:
                                d_ = dict(cur_def)
                                d_["params"] = [p for p in d_["params"]
                                                if p != "self"]
                                cur_class["methods"][cur_def["name"]] = d_
                            cur_def = {
                                "name": mm_next.group(1),
                                "params": [p.strip() for p in
                                           mm_next.group(2).split(",")
                                           if p.strip()],
                                "param_uses": {},
                                "ret": None,
                                "ret_klass": None,
                                "ret_tuple": None,
                            }
                            o_vp, o_vk, o_vm, o_vf, _ = outer_env
                            _params = set(cur_def["params"])
                            var_producer = {k: v for k, v in o_vp.items()
                                            if k not in _params}
                            var_klass = {k: v for k, v in o_vk.items()
                                         if k not in _params}
                            var_members = {k: list(v) for k, v in o_vm.items()
                                           if k not in _params}
                            var_fields = {k: dict(v) for k, v in o_vf.items()
                                          if k not in _params}
                            prev_in_snippet = []
                            var_fields["self"] = dict(cur_class["fields"])
                            continue
                        if cur_class is not None:
                            rsf = _RETURN_SELF_FIELD_RE.match(line)
                            if rsf:
                                # `return self.f` — the method returns
                                # the instance field's stored value
                                ent = var_fields.get("self", {}).get(
                                    rsf.group(1)
                                )
                                if ent is not None:
                                    cur_def["ret"] = ent[0]
                                    cur_def["ret_klass"] = ent[1]
                                    cur_def.setdefault("ret_set", []).append(
                                        (ent[0], ent[1])
                                    )
                                _mark_arm_dead()
                                continue
                        rm = _RETURN_RE.match(line)
                        if rm:
                            # `return v`: v's producer becomes the def's
                            # return producer (direct-return of a call is
                            # outside the honest subset).  Every return's
                            # (producer, class) also lands in ret_set —
                            # returns from different arms phi at the call
                            # site (late r5)
                            cur_def["ret"] = var_producer.get(rm.group(1))
                            cur_def["ret_klass"] = var_klass.get(rm.group(1))
                            if cur_def["ret"] is not None:
                                cur_def.setdefault("ret_set", []).append(
                                    (cur_def["ret"], cur_def["ret_klass"])
                                )
                            if cur_def["ret"] is None:
                                # v may be bound by a DEFERRED receiver
                                # call (G8): the return value then exists
                                # only per call site — mark the deferred
                                # call so each site binds its own clone
                                for rc in cur_def.get("recv_calls", ()):
                                    if rm.group(1) in rc.get("binds", ()):
                                        rc["is_ret"] = True
                            _mark_arm_dead()
                            continue
                        tm_ = _RETURN_TUPLE_RE.match(line)
                        if tm_:
                            # `return a, b` (r5): the def returns a tuple
                            # of body producers — the caller's unpack
                            # binds each lhs to the matching producer
                            # (plain value flow through user code, like
                            # the single-name return; the tuple object
                            # itself is no turtle)
                            rnames = [s.strip()
                                      for s in tm_.group(1).split(",")]
                            cur_def["ret_tuple"] = [
                                (var_producer.get(s), var_klass.get(s))
                                for s in rnames
                            ]
                            _mark_arm_dead()
                            continue
                        # body line: processed below under the def-local env
                    else:
                        # dedent ends the def block: drain the body's
                        # open frames under the BODY env, then restore
                        # the outer env
                        _drain_frames()
                        if cur_class is not None:
                            # a column-0 statement closes the open
                            # method AND the class
                            if cur_def["name"] == "__init__":
                                cur_class["fields"] = dict(
                                    var_fields.get("self", {})
                                )
                                d_ = dict(cur_def)
                                d_["params"] = [p for p in d_["params"]
                                                if p != "self"]
                                local_defs[cur_class["name"]] = d_
                            else:
                                d_ = dict(cur_def)
                                d_["params"] = [p for p in d_["params"]
                                                if p != "self"]
                                cur_class["methods"][cur_def["name"]] = d_
                            cur_class = None
                        else:
                            local_defs[cur_def["name"]] = cur_def
                        (var_producer, var_klass, var_members,
                         var_fields, prev_in_snippet) = outer_env
                        cur_def, outer_env = None, None
                # G5 fork-join (`GraphSlicer.project` CFG shape,
                # `…Engine.java:2116-2256`): calls in different arms of
                # an if/elif/else never precede each other; every arm
                # forks from the frontier before the fork keyword and
                # the first call after the chain joins all arm tails
                # (plus the fall-through frontier when there is no
                # else).  Bindings phi at the join (r5): each arm
                # starts from the pre-fork environment (arms are
                # exclusive — no cross-arm leak) and the join merges
                # them, unioning disagreeing bindings into the
                # members/element shape (WALA's phi feeding the union
                # points-to receiver).  `while cond:` is the one-arm
                # loop form: fork + fall-through + loop-header phi.
                # Late r5: chains NEST — frames stack by the keyword
                # line's indentation; dedenting past a frame joins it
                # innermost-first, arm keywords switch the frame at
                # their own indent, and an inner join feeds the outer
                # arm's ongoing frontier/bindings.  Frames open at top
                # level, inside an open frame, or inside a DEF body
                # (def-local frames phi under the body env and drain at
                # the def's close — `return` keeps last-arm semantics,
                # reading the arm env it appears in; class bodies stay
                # out of scope).  The stack never mixes scopes: a
                # top-level def/class statement joins all open frames
                # before the def opens, so inside a body only that
                # body's frames are live.
                stripped_ = line.lstrip()
                indent_ = len(line) - len(stripped_)
                at_top = indent_ == 0
                # dedent joins inner frames (innermost-first); stop at a
                # frame whose own indent carries an arm/finally keyword
                while branch_stack and indent_ <= branch_stack[-1]["indent"]:
                    top_ = branch_stack[-1]
                    arm_, fin_ = _frame_arm_fin(top_, stripped_)
                    if indent_ == top_["indent"] and (arm_ or fin_):
                        break
                    prev_in_snippet = _join_frame(top_, prev_in_snippet)
                    branch_stack.pop()
                if branch_stack and indent_ == branch_stack[-1]["indent"]:
                    top_ = branch_stack[-1]
                    arm_, fin_ = _frame_arm_fin(top_, stripped_)
                    if arm_:
                        # a dead arm (ended in return/raise) leaves no
                        # tail and no binding path
                        if not top_.get("dead"):
                            top_["tails"].append(prev_in_snippet)
                            top_["env_tails"].append(_env_snap())
                        top_["dead"] = False
                        # a try body ALWAYS runs: its chain never falls
                        # through untaken, so the join never adds the
                        # pre edge for try branches
                        top_["has_else"] = (
                            top_.get("is_try", False)
                            or stripped_.startswith("else")
                        )
                        prev_in_snippet = list(top_["pre"])
                        _env_restore(top_["env0"])
                        continue
                    if fin_:
                        # `finally:` joins immediately — its body chains
                        # off the join (it runs after every arm, so it
                        # is NOT an arm)
                        prev_in_snippet = _join_frame(top_, prev_in_snippet)
                        branch_stack.pop()
                        continue
                if (at_top or cur_def is not None
                        or (branch_stack and cur_class is None
                            and indent_ > branch_stack[-1]["indent"])):
                    if _IF_RE.match(stripped_) or _WHILE_RE.match(stripped_):
                        branch_stack.append({
                            "indent": indent_,
                            "pre": list(prev_in_snippet), "tails": [],
                            "has_else": False, "env0": _env_snap(),
                            "env_tails": [],
                        })
                        continue
                    if _TRY_RE.match(stripped_):
                        branch_stack.append({
                            "indent": indent_,
                            "pre": list(prev_in_snippet), "tails": [],
                            "has_else": True, "is_try": True,
                            "env0": _env_snap(), "env_tails": [],
                        })
                        continue
                if stripped_.startswith("raise") or stripped_ == "return":
                    # an arm that raises (or bare-returns) exits past
                    # the join (early-exit CFG shape; the raise's own
                    # args rarely carry calls worth nodes — the
                    # statement still processes below)
                    _mark_arm_dead()
                if cur_class is not None and cur_def is None:
                    if line[:1] in (" ", "\t"):
                        mm0 = _METHOD_DEF_RE.match(line)
                        if mm0:
                            # first method of the class: save the
                            # top-level env, open a def-local one with
                            # self fields pre-bound (empty until
                            # __init__ has been seen)
                            cur_def = {
                                "name": mm0.group(1),
                                "params": [p.strip() for p in
                                           mm0.group(2).split(",")
                                           if p.strip()],
                                "param_uses": {},
                                "ret": None,
                                "ret_klass": None,
                                "ret_tuple": None,
                            }
                            outer_env = (var_producer, var_klass,
                                         var_members, var_fields,
                                         prev_in_snippet)
                            _params = set(cur_def["params"])
                            var_producer = {
                                k: v for k, v in var_producer.items()
                                if k not in _params
                            }
                            var_klass = {k: v for k, v in var_klass.items()
                                         if k not in _params}
                            var_members = {
                                k: list(v) for k, v in var_members.items()
                                if k not in _params
                            }
                            var_fields = {
                                k: dict(v) for k, v in var_fields.items()
                                if k not in _params
                            }
                            prev_in_snippet = []
                            var_fields["self"] = dict(cur_class["fields"])
                        # other class-level lines (docstrings, class
                        # attributes) are inert — class scope, not
                        # top-level statements
                        continue
                    # a column-0 statement closes the (method-less) class
                    cur_class = None
                cm_cls = _CLASS_RE.match(line)
                if cm_cls:
                    # user-defined class (r5 subset): collect __init__
                    # field stores and methods; instances dispatch via
                    # per-instance local-def aliases.  Single
                    # inheritance (late r5): a base naming an earlier
                    # local class seeds fields/methods/ctor — inherited
                    # method records share the base's body nodes (the
                    # same context-insensitive dispatch WALA's class
                    # hierarchy gives an inherited method); an own
                    # __init__ / same-named method overwrites.
                    base_cls = (local_classes.get(cm_cls.group(2))
                                if cm_cls.group(2) else None)
                    cur_class = {
                        "name": cm_cls.group(1),
                        "fields": (dict(base_cls["fields"])
                                   if base_cls else {}),
                        "methods": (dict(base_cls["methods"])
                                    if base_cls else {}),
                    }
                    local_classes[cm_cls.group(1)] = cur_class
                    # instantiation dispatches through the local-def
                    # machinery even without an __init__ (an __init__
                    # close overwrites this record); a local base donates
                    # its ctor record (inherited __init__)
                    if base_cls is not None and base_cls["name"] in local_defs:
                        inh = dict(local_defs[base_cls["name"]])
                        inh["name"] = cm_cls.group(1)
                        local_defs[cm_cls.group(1)] = inh
                    else:
                        local_defs[cm_cls.group(1)] = {
                            "name": cm_cls.group(1), "params": [],
                            "param_uses": {}, "ret": None,
                            "ret_klass": None, "ret_tuple": None,
                        }
                    continue
                dm = _DEF_RE.match(line)
                if dm:
                    cur_def = {
                        "name": dm.group(1),
                        "params": [p.strip() for p in dm.group(2).split(",") if p.strip()],
                        "param_uses": {},
                        "ret": None,
                        "ret_klass": None,
                        "ret_tuple": None,
                    }
                    # def body gets its own variable environment and its
                    # own control-flow chain (a separate method in WALA).
                    # GLOBALS stay visible (r5): the body env seeds from
                    # the enclosing env minus the def's own parameters
                    # (lexical shadowing), so `def f(): m.fit(df)` over
                    # module-level tracked values resolves eagerly — one
                    # shared node, WALA's context-insensitive method
                    # body over its resolved globals.  Body stores never
                    # leak back (the outer env is restored at dedent).
                    outer_env = (var_producer, var_klass, var_members,
                                 var_fields, prev_in_snippet)
                    _params = set(cur_def["params"])
                    var_producer = {k: v for k, v in var_producer.items()
                                    if k not in _params}
                    var_klass = {k: v for k, v in var_klass.items()
                                 if k not in _params}
                    var_members = {k: list(v) for k, v in var_members.items()
                                   if k not in _params}
                    var_fields = {k: dict(v) for k, v in var_fields.items()
                                  if k not in _params}
                    prev_in_snippet = []
                    continue
                dl_ = _DEL_STMT_RE.match(line)
                if dl_:
                    # `del a, b` unbinds (late r5): a post-del use of the
                    # name is an unresolved read in WALA — dropping every
                    # binding keeps stale producers from cross-wiring
                    for v_ in (t.strip() for t in dl_.group(1).split(",")):
                        var_producer.pop(v_, None)
                        var_klass.pop(v_, None)
                        var_members.pop(v_, None)
                        var_elem.pop(v_, None)
                        var_fields.pop(v_, None)
                        var_bound.pop(v_, None)
                    continue
                im = _IMPORT_RE.match(line)
                if im:
                    pim = _PLAIN_IMPORT_RE.match(line)
                    if pim:
                        # `import a, b as c, d.e` — import node per known
                        # root module + member-read chain per dotted
                        # segment (WALA reads each segment off the module
                        # object: example1.json node 76); `import a.b.c`
                        # binds the LEAF name c, `import a.b as y` binds y
                        made_any = False
                        for item in pim.group(1).split(","):
                            mi = _IMPORT_ITEM_RE.match(item.strip())
                            if not mi or mi.group(1).split(".")[0] not in modules:
                                continue
                            full = mi.group(1)
                            segs = full.split(".")
                            if mi.group(2):
                                last = import_member_chain(segs, ln, phys)
                                aliases[mi.group(2)] = full
                                alias_src[mi.group(2)] = last
                            elif len(segs) > 1:
                                # leaf binding: reads cover the segments
                                # UP TO the leaf — the leaf access is the
                                # call itself (example1.json: only the
                                # model_selection read exists; the
                                # train_test_split call takes DATA-0 from
                                # it)
                                last = import_member_chain(segs[:-1], ln, phys)
                                aliases[segs[-1]] = full
                                alias_src[segs[-1]] = last
                            else:
                                last = import_member_chain(segs, ln, phys)
                                alias_src[segs[0]] = last
                            made_any = True
                        if made_any:
                            continue
                    if im.group(1).split(".")[0] in modules:
                        fs = _FROM_STAR_RE.match(line)
                        if fs:
                            # star import: member-read chain for the
                            # module path, then every direct catalog
                            # child binds its bare name to the canonical
                            # entry (later star imports win, mirroring
                            # Python namespace overwrite)
                            mod_path = fs.group(1)
                            last = import_member_chain(
                                mod_path.split("."), ln, phys
                            )
                            pref = mod_path + "."
                            for full in by_name:
                                if (full.startswith(pref)
                                        and "." not in full[len(pref):]):
                                    bare = full[len(pref):]
                                    aliases[bare] = full
                                    alias_src[bare] = last
                            continue
                        fa = _FROM_IMPORT_RE.match(line)
                        if fa:
                            mod_path, name = fa.group(1), fa.group(2)
                            bound = fa.group(3) or name
                            segs = mod_path.split(".")
                            if len(segs) > 1:
                                # member reads cover the module segments
                                # only; the last gets an importTree temp
                                # (example2.json nodes 78/81)
                                last = import_member_chain(segs, ln, phys)
                                import_tree_counter += 1
                                nodes[idx_of[last]]["value_names"] = [
                                    f"importTree{import_tree_counter}"
                                ]
                            else:
                                # `from a import N` reads N itself off
                                # the module (example3.json node 79)
                                last = import_member_chain(
                                    [segs[0], name], ln, phys
                                )
                                nodes[idx_of[last]]["value_names"] = [bound]
                            aliases[bound] = f"{mod_path}.{name}"
                            alias_src[bound] = last
                        else:
                            new_node([im.group(1)], ln, phys, im.group(1),
                                     is_import=True)
                        continue
                # comprehension over a TRACKED source: bind the loop var
                # per element (the for-statement's EachElementGet shape),
                # evaluate the expression once symbolically through the
                # normal call machinery, then rebind the lhs as a
                # CONTAINER of the result and un-leak the loop var
                # (WALA compiles the body as a hidden comprehension
                # function — one node per call, union receiver)
                compr = None
                km_ = _COMPR_RE.match(line)
                if km_ and (km_.group(4) in var_producer
                            or km_.group(4) in var_members):
                    lv_, srcv_ = km_.group(3), km_.group(4)
                    compr = (km_.group(1), lv_,
                             (var_members.get(lv_), var_elem.get(lv_),
                              var_producer.get(lv_), var_klass.get(lv_)))
                    src_list = ([var_producer[srcv_]]
                                if srcv_ in var_producer
                                else list(var_members[srcv_]))
                    var_members[lv_] = list(src_list)
                    var_elem[lv_] = var_members[lv_]
                    var_producer.pop(lv_, None)
                    var_klass.pop(lv_, None)
                    var_fields.pop(lv_, None)
                    line = f"{km_.group(1)} = {km_.group(2)}"
                assign = _ASSIGN_RE.match(line)
                lhs_vars = (
                    [v.strip() for v in assign.group(1).split(",")] if assign else []
                )
                rhs_start = (
                    len(line) - len(line.split("=", 1)[1].lstrip())
                    if assign else None
                )
                if not lhs_vars:
                    # `with Ctor(...) as v:` binds v to the call's value
                    # exactly like `v = Ctor(...)` (WALA's SSA sees the
                    # same def; the context-manager protocol is outside
                    # the honest subset)
                    wm_ = _WITH_RE.match(line)
                    if wm_:
                        lhs_vars = [wm_.group(2)]
                        rhs_start = wm_.start(1)
                for v in lhs_vars:
                    # whole-object rebind invalidates its field store
                    # and its instance-method dispatch aliases
                    var_fields.pop(v, None)
                    for k_ in inst_methods.pop(v, ()):
                        local_defs.pop(k_, None)
                made_call_node = False
                last_chain = None  # (index after ')', node#, klass, chain start)
                last_inst_chain = None  # (index after ')', class, anon inst)
                # lhs binding belongs to the call whose postfix expression
                # IS the rhs (chain-final node of the expression starting
                # at rhs_start) — never a nested arg call — and applies
                # AFTER the whole line's calls resolve their args, so
                # `data = data.where(pd.notnull(data), …)` lets notnull
                # read the OLD binding (WALA SSA: uses before the def),
                # golden example3.json nodes 80/82/84
                deferred_binds: list = []
                # nested-call arg flow (`g(f(x))`: WALA flows f's result
                # into g — `…Engine.java` visit(CAstNode.CALL) evaluates
                # inner calls first): calls are discovered textually, so
                # the OUTER call's node exists before the inner's; record
                # every call node by the offset its expression starts at
                # and resolve inner→outer flows after the line is done.
                line_call_nodes: dict = {}  # expression start -> node#
                line_call_klass: dict = {}  # expression start -> ctor klass
                pending_nested: list = []   # (inner start, outer node#, ordinal)
                pending_exprs: list = []    # (outer node#, ordinal, val off, match)
                # nested-call arg at a LOCAL-DEF call site (`f(np.log(x))`
                # with `def f(p): …`): the inner call's chain-final node
                # wires to the body's param uses once the line's calls
                # all exist — same deferral as pending_nested, multi-
                # target because a param may have several body uses
                pending_def_args: list = []  # (inner start, [(node#, pos)])
                for m in _CALL_RE.finditer(line):
                    if _inert_at(line, m.start()):
                        # `s = 'pd.read_csv(x)'` is text, not a call
                        # (f-string braces evaluate and stay live)
                        continue
                    cname = m.group(1)
                    # a call THROUGH an import binding gets a DATA-0 edge
                    # from the binding's import/member-read node
                    # (`example2.json`: pandas(74) →0→ read_csv(85),
                    # sklearn.svm read(78) →0→ SVC(101))
                    import_src = None
                    if aliases or alias_src:
                        head, _, rest = cname.partition(".")
                        if head not in var_klass and head not in var_producer:
                            import_src = alias_src.get(head)
                            if head in aliases:
                                cname = aliases[head] + ("." + rest if rest else "")
                    if (
                        last_inst_chain is not None
                        and "." not in cname
                        and m.start() == last_inst_chain[0] + 1
                        and line[last_inst_chain[0] : last_inst_chain[0] + 1]
                        == "."
                    ):
                        # chained instance-method call on a user-class
                        # ctor expression (`X(a).m(b)`): dispatch the
                        # method against the anonymous chained instance
                        # minted at the instantiation; provisional lhs
                        # instance bindings from the ctor are dropped —
                        # the lhs tracks the METHOD's return, not the
                        # instance
                        icls = local_classes.get(last_inst_chain[1])
                        if icls is not None and cname in icls["methods"]:
                            anon_ = last_inst_chain[2]
                            local_defs[f"{anon_}.{cname}"] = (
                                icls["methods"][cname]
                            )
                            cname = f"{anon_}.{cname}"
                            for v in lhs_vars:
                                var_fields.pop(v, None)
                                for k_ in inst_methods.pop(v, ()):
                                    local_defs.pop(k_, None)
                    if cname in local_defs and (
                        cur_def is None or cname != cur_def["name"]
                    ):
                        # call of a user-defined function: wire call-site
                        # arg producers to the body's parameter uses and
                        # propagate the return producer to the assigned
                        # variable (no turtle node of its own — matching
                        # the reference, where only library calls become
                        # turtles and user code is flowed through).
                        # Depth-2 (r5): the same wiring runs INSIDE a def
                        # body — body-local producers wire immediately
                        # (body nodes are shared/context-insensitive);
                        # values bound to the ENCLOSING def's parameters
                        # FORWARD one level out (param-use lists and
                        # deferred receiver-calls cascade into cur_def,
                        # so the outer call site resolves them — WALA's
                        # transitive call-graph reach through helper
                        # frames, `…Engine.java:1970-2025`).  Honest
                        # subset: helpers precede callers, no recursion.
                        d = local_defs[cname]
                        upos = 0
                        binding: dict[str, str] = {}  # param -> caller value
                        argtext_d = line[m.end():_close_at(line, m.end())]
                        for aoff_d, a in _args(argtext_d):
                            nm_ = _NAMED_ARG.match(a)
                            if nm_:
                                # keyword call-site arg: wire by the
                                # parameter NAME (f(x=v) reaches the body
                                # uses of x), same callee binding WALA
                                # resolves
                                param, val = nm_.group(1), nm_.group(2)
                                binding[param] = val
                                if val in var_producer and param in d["param_uses"]:
                                    for nnum, use_pos in d["param_uses"][param]:
                                        src = nodes[idx_of[var_producer[val]]]
                                        src["flows_to"] = _append_flow(
                                            src["flows_to"], str(use_pos), nnum
                                        )
                                elif cur_def is not None and val in cur_def["params"]:
                                    # outer param forwarded by keyword:
                                    # the helper body's uses become uses
                                    # of the OUTER def's parameter
                                    for use in d["param_uses"].get(param, ()):
                                        cur_def["param_uses"].setdefault(
                                            val, []
                                        ).append(use)
                                elif _CALL_RE.match(val) and d["param_uses"].get(param):
                                    # nested-call kwarg: defer to the
                                    # post-line resolution (late r5)
                                    pending_def_args.append(
                                        (m.end() + aoff_d + nm_.start(2),
                                         list(d["param_uses"][param]))
                                    )
                                continue
                            upos += 1
                            if upos <= len(d["params"]):
                                binding[d["params"][upos - 1]] = a
                            if a in var_producer and upos <= len(d["params"]):
                                param = d["params"][upos - 1]
                                for nnum, use_pos in d["param_uses"].get(param, ()):
                                    src = nodes[idx_of[var_producer[a]]]
                                    src["flows_to"] = _append_flow(
                                        src["flows_to"], str(use_pos), nnum
                                    )
                            elif (
                                cur_def is not None
                                and a in cur_def["params"]
                                and upos <= len(d["params"])
                            ):
                                # outer param forwarded positionally
                                param = d["params"][upos - 1]
                                for use in d["param_uses"].get(param, ()):
                                    cur_def["param_uses"].setdefault(
                                        a, []
                                    ).append(use)
                            elif (
                                upos <= len(d["params"])
                                and _CALL_RE.match(a)
                                and d["param_uses"].get(d["params"][upos - 1])
                            ):
                                # nested-call positional arg (`f(np.log(x))`
                                # with `def f(p): …`): the inner call's
                                # chain-final node wires to the body's
                                # param uses after the line's calls all
                                # exist (late r5 — WALA evaluates the
                                # inner call and flows its value into
                                # the callee frame like any other arg)
                                pending_def_args.append(
                                    (m.end() + aoff_d,
                                     list(d["param_uses"][d["params"][upos - 1]]))
                                )
                        # G8 call-site contexts: clone each deferred
                        # body receiver-call against THIS site's receiver
                        # class — one node per (call site, body call),
                        # WALA's call-site context (`…Engine.java:456-486`)
                        for rc in d.get("recv_calls", ()):
                            val = binding.get(rc["param"])
                            if (
                                cur_def is not None
                                and val is not None
                                and val in cur_def["params"]
                            ):
                                # deferred call on a value that is ITSELF
                                # the outer def's parameter: forward the
                                # deferral one level out, remapping the
                                # arg spec to this body's frame (params
                                # of the helper → this site's bindings)
                                spec2 = []
                                for kind, key, v in rc["args"]:
                                    if kind != "param":
                                        spec2.append((kind, key, v))
                                        continue
                                    bval = binding.get(v)
                                    if bval is None:
                                        continue
                                    if bval in cur_def["params"]:
                                        spec2.append(("param", key, bval))
                                    elif bval in var_producer:
                                        spec2.append(
                                            ("tracked", key, var_producer[bval])
                                        )
                                    else:
                                        sv_ = _str_arg(bval)
                                        if sv_ is not None:
                                            spec2.append((
                                                "const_pos", str(key), sv_,
                                            ))
                                        elif _NUM_ARG.match(bval):
                                            spec2.append(
                                                ("const_pos", str(key), bval)
                                            )
                                fwd = dict(rc, param=val, args=spec2)
                                if rc.get("is_ret") and lhs_vars:
                                    # the helper returns the deferred
                                    # call's value and this body binds it:
                                    # only a `return <var>` of the bound
                                    # variable re-marks it (handled by
                                    # the return-v scanner via binds)
                                    fwd["is_ret"] = False
                                    fwd["binds"] = tuple(lhs_vars)
                                else:
                                    fwd["binds"] = ()
                                cur_def.setdefault("recv_calls", []).append(fwd)
                                continue
                            kls = var_klass.get(val) if val else None
                            if (val is not None and kls is not None
                                    and rc["meth"] in methods_of.get(kls, {})):
                                cpath = list(methods_of[kls][rc["meth"]])
                            elif val is not None and val in var_producer:
                                # turtle receiver (final r5): the site's
                                # value is tracked but has no ctor class
                                # (`clean(raw)` with raw = read_csv(...)
                                # and body `d.dropna()`) — extend the
                                # producer's path per clone, the same G1
                                # rule the direct `raw.dropna()` form
                                # applies (WALA mints every invoke on a
                                # tracked turtle)
                                cpath = list(
                                    nodes[idx_of[var_producer[val]]]["path"]
                                ) + [rc["meth"]]
                            else:
                                continue
                            cnode = new_node(
                                cpath, rc["ln"], rc["phys"], rc["text"],
                            )
                            rprod = var_producer.get(val)
                            if rprod is not None:
                                src = nodes[idx_of[rprod]]
                                src["flows_to"] = _append_flow(
                                    src["flows_to"], "0", cnode["node_number"]
                                )
                            for kind, key, v in rc["args"]:
                                if kind == "const_pos":
                                    cnode["constant_positional_args"][key] = v
                                elif kind == "const_named":
                                    cnode["constant_named_args"][key] = v
                                elif kind == "param":
                                    # arg was another parameter: resolve
                                    # against this site's binding of it
                                    bval = binding.get(v)
                                    if bval is not None and bval in var_producer:
                                        src = nodes[idx_of[var_producer[bval]]]
                                        src["flows_to"] = _append_flow(
                                            src["flows_to"], str(key),
                                            cnode["node_number"],
                                        )
                                    elif (
                                        cur_def is not None
                                        and bval is not None
                                        and bval in cur_def["params"]
                                    ):
                                        # depth-2: the clone sits in a def
                                        # body and this arg is the OUTER
                                        # def's parameter — record the
                                        # clone as one of its uses so the
                                        # outer call site wires it
                                        cur_def["param_uses"].setdefault(
                                            bval, []
                                        ).append((cnode["node_number"], key))
                                elif kind == "tracked":
                                    # body-local producer (shared across
                                    # contexts — body nodes themselves
                                    # stay context-insensitive)
                                    src = nodes[idx_of[v]]
                                    src["flows_to"] = _append_flow(
                                        src["flows_to"], str(key),
                                        cnode["node_number"],
                                    )
                            if rc.get("is_ret") and lhs_vars:
                                # the def returns the deferred call's
                                # value: THIS site's assigned variable
                                # tracks THIS site's clone (class stays
                                # unknown — the r4 non-ctor-rebind rule)
                                for v in lhs_vars:
                                    var_producer[v] = cnode["node_number"]
                                    var_klass.pop(v, None)
                                    var_members.pop(v, None)
                        if lhs_vars and d.get("ret_tuple"):
                            # tuple return from a local def (r5):
                            # `tr, te = load()` binds each lhs to the
                            # matching body producer; assigned WHOLE
                            # (`x = load()`), the producers become x's
                            # container members (iteration/call args see
                            # them, like a container literal)
                            rt = d["ret_tuple"]
                            if len(lhs_vars) == len(rt):
                                for v, (p_, k_) in zip(lhs_vars, rt):
                                    var_members.pop(v, None)
                                    if p_ is not None:
                                        var_producer[v] = p_
                                        if k_:
                                            var_klass[v] = k_
                                        else:
                                            var_klass.pop(v, None)
                                    else:
                                        var_producer.pop(v, None)
                                        var_klass.pop(v, None)
                            elif len(lhs_vars) == 1:
                                v = lhs_vars[0]
                                var_members[v] = [p_ for p_, _ in rt
                                                  if p_ is not None]
                                var_producer.pop(v, None)
                                var_klass.pop(v, None)
                            else:
                                for v in lhs_vars:
                                    var_producer.pop(v, None)
                                    var_klass.pop(v, None)
                                    var_members.pop(v, None)
                        elif lhs_vars and d["ret"] is not None:
                            # return phi (late r5): a def whose arms
                            # return DIFFERENT producers binds the call
                            # site's lhs as a member union (element
                            # shape, so a later method call resolves via
                            # the union points-to receiver when the
                            # returned classes agree)
                            rset = [t for t in dict.fromkeys(
                                        tuple(x) for x in
                                        (d.get("ret_set") or []))
                                    if t[0] is not None]
                            if len(rset) > 1:
                                for v in lhs_vars:
                                    var_members[v] = [p for p, _ in rset]
                                    var_elem[v] = var_members[v]
                                    var_producer.pop(v, None)
                                    var_klass.pop(v, None)
                            else:
                                for v in lhs_vars:
                                    var_producer[v] = d["ret"]
                                    var_members.pop(v, None)
                                    if d["ret_klass"]:
                                        var_klass[v] = d["ret_klass"]
                                    else:
                                        var_klass.pop(v, None)
                        cls_ = local_classes.get(cname)
                        inst_targets: list[str] = []
                        if cls_ is not None:
                            # user-class instantiation: the instance
                            # carries the __init__ field stores (shared
                            # body nodes, context-insensitive) and its
                            # methods dispatch through the local-def
                            # machinery via per-instance aliases
                            inst_targets = list(lhs_vars)
                            close_ld = _close_at(line, m.end())
                            if line[close_ld : close_ld + 2] == ").":
                                # ctor expression chained into a method
                                # call: mint an anonymous instance the
                                # next call dispatches against
                                inst_counter += 1
                                anon_ = f"__inst{inst_counter}"
                                inst_targets.append(anon_)
                                last_inst_chain = (close_ld + 1, cname,
                                                   anon_)
                            for v in inst_targets:
                                var_fields[v] = dict(cls_["fields"])
                            for v in lhs_vars:
                                keys = []
                                for mn, md in cls_["methods"].items():
                                    local_defs[f"{v}.{mn}"] = md
                                    keys.append(f"{v}.{mn}")
                                inst_methods[v] = keys
                        pfs = d.get("param_field_stores")
                        sfu = d.get("self_field_uses")
                        if pfs or sfu:
                            # setter-pattern stores and deferred self.f
                            # uses resolve against THIS instance at the
                            # dispatch site (per-instance fields; body
                            # nodes stay shared/context-insensitive)
                            heads = ([cname.split(".", 1)[0]]
                                     if "." in cname else inst_targets)
                            if pfs:
                                for field, param in pfs:
                                    val = binding.get(param)
                                    if val is not None and val in var_producer:
                                        ent = (var_producer[val],
                                               var_klass.get(val))
                                        for h_ in heads:
                                            var_fields.setdefault(
                                                h_, {}
                                            )[field] = ent
                            if sfu and heads:
                                h_ = heads[0]
                                for field, uses in sfu.items():
                                    ent = var_fields.get(h_, {}).get(field)
                                    if ent is None:
                                        continue
                                    for nnum, use_pos in uses:
                                        src = nodes[idx_of[ent[0]]]
                                        src["flows_to"] = _append_flow(
                                            src["flows_to"],
                                            str(use_pos), nnum,
                                        )
                        continue
                    path = None
                    produced_klass = None
                    recv_node = None
                    recv_members: list[int] | None = None
                    fused_read = None
                    chain_start = m.start()  # expression start (chain origin)
                    call_txt = m.group(0).rstrip("( \t") + "(...)"
                    bound = var_bound.get(cname) if "." not in cname else None
                    if (
                        last_chain is not None
                        and "." not in cname
                        and m.start() == last_chain[0] + 1
                        and line[last_chain[0] : last_chain[0] + 1] == "."
                    ):
                        # call chaining — the collapse-rewrite analogue
                        # (`…Engine.java:2069-2112`): `Ctor(...).meth(...)`
                        # links the ctor node to the method node at DATA-0
                        # without an intermediate variable.  A cataloged
                        # method keeps its catalog path; anything else is
                        # a G1 turtle-path extension (WALA mints a node
                        # for EVERY invoke on a tracked turtle — golden
                        # example2.json node 106, sklearn.SVC.fit.predict)
                        if (last_chain[2] is not None
                                and cname in methods_of.get(last_chain[2], {})):
                            path = methods_of[last_chain[2]][cname]
                        else:
                            path = list(
                                nodes[idx_of[last_chain[1]]]["path"]
                            ) + [cname]
                        recv_node = last_chain[1]
                        chain_start = last_chain[3]
                    elif (
                        bound is not None
                        and var_producer.get(cname) == bound[0]
                        and not nodes[idx_of[bound[0]]]["flows_to"]
                    ):
                        # G4 general collapse (`…Engine.java:2069-2112`):
                        # a standalone property-read node whose SOLE use
                        # is this invoke's receiver is killed, its
                        # incoming DATA-0 edges rewired onto the invoke —
                        # `m = obj.fit; m(X)` produces the same node
                        # shape as `obj.fit(X)`.  Sole-use is enforced by
                        # requiring the read node to have no outgoing
                        # flows yet (a prior use as an argument cancels
                        # the fuse, like WALA's uses.hasNext() check;
                        # uses AFTER the invoke are outside the honest
                        # streaming subset).
                        path = list(bound[2])
                        recv_node = bound[1]
                        fused_read = bound[0]
                    elif "." not in cname and (
                        sub_ := _SUBSCR_RECV_RE.search(line[: m.start()])
                    ) is not None and (
                        sub_.group(1) in var_members
                        or sub_.group(1) in var_fields
                    ):
                        # subscript receiver on a TRACKED container/field
                        # store (r5, the element-load half of
                        # `…Engine.java:1892-1954`): `models[0].fit(x)`
                        # resolves against the EXACT member the literal
                        # index selects (precise, unlike the loop-element
                        # union — the index names one allocation site);
                        # `cfg['m'].fit(x)` loads the stored field.  A
                        # tracked receiver whose method is not in the
                        # catalog emits no node (same as dotted calls on
                        # tracked vars), instead of falling through to
                        # the position-blind bare-tail match.
                        prod_ = klass_ = None
                        if sub_.group(2) is not None:
                            mem = var_members.get(sub_.group(1), [])
                            idx = int(sub_.group(2))
                            if idx < len(mem):
                                prod_ = mem[idx]
                                klass_ = node_klass.get(prod_)
                        else:
                            fld = (sub_.group(3) if sub_.group(3) is not None
                                   else sub_.group(4))
                            ent = var_fields.get(sub_.group(1), {}).get(fld)
                            if ent is not None:
                                prod_, klass_ = ent
                        if klass_ is not None and cname in methods_of.get(klass_, {}):
                            path = methods_of[klass_][cname]
                            recv_node = prod_
                            chain_start = sub_.start(1)
                            call_txt = line[sub_.start(1): m.end(1)] + "(...)"
                        elif prod_ is not None:
                            # G1 turtle-path extension through the loaded
                            # member: uncataloged methods extend the
                            # producer's path (WALA mints every invoke on
                            # a tracked turtle)
                            path = list(nodes[idx_of[prod_]]["path"]) + [cname]
                            recv_node = prod_
                            chain_start = sub_.start(1)
                            call_txt = line[sub_.start(1): m.end(1)] + "(...)"
                        else:
                            continue
                    elif cname in by_name:
                        path = by_name[cname]
                        if cname in methods_of:  # class ctor call
                            produced_klass = cname
                    elif "." in cname:
                        recv, meth = cname.rsplit(".", 1)
                        if recv in var_klass and meth in methods_of.get(var_klass[recv], {}):
                            path = methods_of[var_klass[recv]][meth]
                            recv_node = var_producer.get(recv)
                        elif (
                            recv in var_elem
                            and var_members.get(recv) == var_elem[recv]
                        ):
                            # G8 members: a loop ELEMENT whose tracked
                            # members all construct the SAME class
                            # resolves the method against it; the
                            # invoke gets a DATA-0 edge from EVERY
                            # member (union points-to receiver).
                            # Heterogeneous member classes stay outside
                            # the honest subset.
                            klss = {node_klass.get(p) for p in var_members[recv]}
                            if len(klss) == 1:
                                kls = klss.pop()
                                if kls is not None and meth in methods_of.get(kls, {}):
                                    path = methods_of[kls][meth]
                                    recv_members = list(
                                        dict.fromkeys(var_members[recv])
                                    )
                        elif "." in recv:
                            # method call THROUGH a stored field (r5):
                            # `h.model = SVC()` then `h.model.fit(df)` —
                            # the field load resolves to the stored ctor
                            # result, which becomes the receiver (the
                            # AstPropertyRead→invoke chain of
                            # `…Engine.java:1892-1954`, value-flow only:
                            # the untracked holder contributes no node)
                            fr_ = _FIELD_REF_RE.match(recv)
                            if fr_ is not None:
                                fld = (fr_.group(2) or fr_.group(3)
                                       or fr_.group(4))
                                ent = var_fields.get(fr_.group(1), {}).get(fld)
                                if (ent is not None and ent[1]
                                        and meth in methods_of.get(ent[1], {})):
                                    path = methods_of[ent[1]][meth]
                                    recv_node = ent[0]
                    if path is None and "." not in cname:
                        # suffix match: bare class/func tail used after
                        # import — O(1) probe of the precomputed tail index
                        # (first catalog entry wins, matching the original
                        # insertion-order scan)
                        hit = tail_first.get(cname)
                        if hit is not None:
                            qual, path = hit
                            if qual in methods_of:
                                produced_klass = qual
                    if path is None and "." in cname:
                        # G1 turtle-path extension (full turtle shape,
                        # `…Engine.java:1413-1704`): WALA mints a node for
                        # EVERY invoke on a tracked turtle, cataloged or
                        # not — `data.fillna(...)` on a read_csv result is
                        # pandas.read_csv.fillna (golden example1.json node
                        # 82), `data = data.where(...)` REBINDS the turtle
                        # (golden example3.json node 82).  Receiver must be
                        # a tracked producer (not a def parameter — those
                        # stay deferred for per-site G8 contexts).
                        xrecv, xmeth = cname.rsplit(".", 1)
                        if (
                            not xmeth.isdigit()
                            and xrecv in var_producer
                            and not (cur_def is not None
                                     and xrecv in cur_def["params"])
                        ):
                            recv_node = var_producer[xrecv]
                            path = list(
                                nodes[idx_of[recv_node]]["path"]
                            ) + [xmeth]
                        elif (
                            not xmeth.isdigit()
                            and xrecv in var_elem
                            and var_members.get(xrecv) == var_elem[xrecv]
                            and not (cur_def is not None
                                     and xrecv in cur_def["params"])
                        ):
                            # phi'd / loop-element union receiver (late
                            # r5): when every member's turtle path
                            # agrees, the uncataloged invoke extends the
                            # shared path ONCE, fed DATA-0 by every
                            # member — WALA's phi value feeding the
                            # invoke (`if c: df = read_csv(a) else: df =
                            # read_csv(b)` then `df.dropna()` → one
                            # dropna node with two receiver edges).
                            # Disagreeing paths stay out (the honest
                            # bound); plain container literals are
                            # excluded by the var_elem identity guard.
                            mpaths = {
                                tuple(nodes[idx_of[p]]["path"])
                                for p in var_members[xrecv]
                            }
                            if len(mpaths) == 1:
                                path = list(mpaths.pop()) + [xmeth]
                                recv_members = list(
                                    dict.fromkeys(var_members[xrecv])
                                )
                    if path is None and import_src is not None:
                        # call THROUGH an import binding whose function the
                        # catalog does not know — the turtle still roots at
                        # the module (golden example3.json node 84,
                        # pandas.notnull); the binding's DATA-0 edge is
                        # wired below like any recognized call
                        path = cname.split(".")
                    if path is None:
                        # G8 call-site contexts (WALA's receiver-type +
                        # call-site contexts, `…Engine.java:456-486`):
                        # a method call whose receiver is a PARAMETER of
                        # the enclosing def can't resolve here — its
                        # class is only known per call site.  Record a
                        # deferred receiver-call; each call site clones
                        # it into its own node against that site's
                        # receiver class, so `def train(m): m.fit(X)`
                        # called with SVC() then LinearRegression()
                        # yields TWO fit nodes with distinct receiver
                        # edges (not one merged context).
                        if cur_def is not None and "." in cname:
                            recv, meth = cname.rsplit(".", 1)
                            if recv in cur_def["params"]:
                                spec = []
                                dpos = 0
                                for _, a in _args(line[m.end():_close_at(line, m.end())]):
                                    dm_ = _NAMED_ARG.match(a)
                                    if dm_ and not _NAMED_ARG.match(dm_.group(2)):
                                        dpos += 1
                                        key, val = dm_.group(1), dm_.group(2)
                                        dsv = _str_arg(val)
                                        if dsv is not None:
                                            spec.append(
                                                ("const_named", key, dsv))
                                        elif _NUM_ARG.match(val):
                                            spec.append(("const_named", key, val))
                                        elif val in cur_def["params"]:
                                            spec.append(("param", dpos, val))
                                        elif val in var_producer:
                                            spec.append(("tracked", dpos, var_producer[val]))
                                        continue
                                    dpos += 1
                                    dsv = _str_arg(a)
                                    if dsv is not None:
                                        spec.append(
                                            ("const_pos", str(dpos), dsv))
                                    elif _NUM_ARG.match(a):
                                        spec.append(("const_pos", str(dpos), a))
                                    elif a in cur_def["params"]:
                                        spec.append(("param", dpos, a))
                                    elif a in var_producer:
                                        spec.append(("tracked", dpos, var_producer[a]))
                                rx_ = _RETURN_EXPR_RE.match(line)
                                cur_def.setdefault("recv_calls", []).append({
                                    "param": recv, "meth": meth, "args": spec,
                                    "ln": ln, "phys": list(phys),
                                    "text": m.group(0).rstrip("( \t") + "(...)",
                                    # the def returns this call's value —
                                    # directly (`return m.fit(d)`) or via
                                    # the variable it binds (marked later
                                    # by the `return v` handler)
                                    "is_ret": (rx_ is not None
                                               and m.start(1) == rx_.start(1)),
                                    "binds": list(lhs_vars),
                                })
                        continue
                    made_call_node = True
                    node = new_node(list(path), ln, phys, call_txt)
                    # the FINAL node of the postfix expression starting at
                    # chain_start (a later `.meth(` continuation overwrites)
                    prev_chain_ = line_call_nodes.get(chain_start)
                    if prev_chain_ is not None:
                        # chain continuation: WALA binds only the postfix
                        # expression's FINAL value — the earlier call's
                        # value is an unnamed SSA intermediate (the
                        # golden `data.where(...)` node-82 pattern), so
                        # its name clears when the chain extends
                        pn_ = nodes[idx_of[prev_chain_]]
                        if pn_.get("value_names"):
                            pn_["value_names"] = None
                    line_call_nodes[chain_start] = node["node_number"]
                    line_call_klass[chain_start] = produced_klass
                    # receiver dataflow at ordinal 0 (reference DATA-0)
                    if fused_read is not None:
                        # kill the read turtle: drop the producer->read
                        # DATA-0 edge (removeEdge(y, read_t)); the node
                        # itself is swept (with a control-chain splice)
                        # before return
                        nodes[idx_of[fused_read]]["_dead"] = True
                        psrc = nodes[idx_of[recv_node]]
                        kept = [d for d in psrc["flows_to"].get("0", [])
                                if d != fused_read]
                        nf = dict(psrc["flows_to"])
                        if kept:
                            nf["0"] = kept
                        else:
                            nf.pop("0", None)
                        psrc["flows_to"] = nf
                        var_bound.pop(cname, None)
                        var_producer.pop(cname, None)
                    if recv_node is not None:
                        src = nodes[idx_of[recv_node]]
                        src["flows_to"] = _append_flow(src["flows_to"], "0", node["node_number"])
                    elif recv_members:
                        for p in recv_members:
                            src = nodes[idx_of[p]]
                            src["flows_to"] = _append_flow(
                                src["flows_to"], "0", node["node_number"]
                            )
                    elif import_src is not None:
                        src = nodes[idx_of[import_src]]
                        src["flows_to"] = _append_flow(
                            src["flows_to"], "0", node["node_number"]
                        )
                    if produced_klass:
                        node_klass[node["node_number"]] = produced_klass
                    # args: constants + variable dataflow (receiver=0 ⇒ args 1..n)
                    close = _close_at(line, m.end())  # index of the ')'
                    argtext = line[m.end():close]
                    if line[close : close + 1] == ")":
                        last_chain = (close + 1, node["node_number"], produced_klass, chain_start)
                    else:
                        last_chain = None
                    pos = 0
                    for aoff, a in _args(argtext):
                        nm = _NAMED_ARG.match(a)
                        if nm and not _NAMED_ARG.match(nm.group(2)):
                            # keyword args occupy a SOURCE-ORDER ordinal
                            # just like positionals, and a tracked value
                            # passed by keyword flows at that ordinal —
                            # the reference shape: `stratify=…` flows at
                            # position 4 in example2.json node 88
                            # (`train_test_split(data, test_size=0.3,
                            # random_state=0, stratify=data['Dataset'])`).
                            pos += 1
                            key, val = nm.group(1), nm.group(2)
                            sv = _str_arg(val)
                            if sv is not None:
                                node["constant_named_args"][key] = sv
                            elif _NUM_ARG.match(val):
                                node["constant_named_args"][key] = val
                            elif val in var_producer:
                                src = nodes[idx_of[var_producer[val]]]
                                src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                            elif val in var_members:
                                for src_num in var_members[val]:
                                    src = nodes[idx_of[src_num]]
                                    src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                            elif cur_def is not None and val in cur_def["params"]:
                                cur_def["param_uses"].setdefault(val, []).append(
                                    (node["node_number"], pos)
                                )
                            elif (tf := tracked_field(val)) is not None:
                                # field/subscript read of a TRACKED value
                                # as a keyword arg: a read node of its
                                # own, flowing at the kwarg's source-order
                                # ordinal (`example2.json` node 88)
                                rn = mint_field_read(tf, val, ln, phys)
                                src = nodes[idx_of[rn]]
                                src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                            elif (fp := field_ref(val)) is not None:
                                # `obj.field` / `obj['field']` keyword
                                # arg loading a stored tracked value
                                src = nodes[idx_of[fp]]
                                src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                            elif _CALL_RE.match(val):
                                pending_nested.append(
                                    (m.end() + aoff + nm.start(2),
                                     node["node_number"], pos)
                                )
                            elif (bx := _ARG_BINOP_RE.match(val)) is not None:
                                # binop kwarg (`kernel=1.0 * RBF(1.0)`):
                                # the reference mints an `.expr` turtle —
                                # resolved after the line's calls exist
                                pending_exprs.append(
                                    (node["node_number"], pos,
                                     m.end() + aoff + nm.start(2), bx)
                                )
                            elif (
                                cur_class is not None
                                and cur_def is not None
                                and (sf_ := _SELF_FIELD_RE.match(val))
                            ):
                                # unresolved `self.f` kwarg: defer to
                                # the dispatch site (setter stores)
                                cur_def.setdefault(
                                    "self_field_uses", {}
                                ).setdefault(sf_.group(1), []).append(
                                    (node["node_number"], pos)
                                )
                            continue
                        pos += 1
                        sv = _str_arg(a)
                        if sv is not None:
                            node["constant_positional_args"][str(pos)] = sv
                        elif _NUM_ARG.match(a):
                            node["constant_positional_args"][str(pos)] = a
                        elif a in var_producer:
                            src = nodes[idx_of[var_producer[a]]]
                            src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                        elif a in var_members:
                            # container def-use chaining: a list/tuple/dict
                            # literal passes each tracked member's dataflow
                            # through to the call (the honest subset of
                            # `…Engine.java:1905-1920`'s AstPropertyWrite→
                            # Read recursion through dict/tuple/list news)
                            for src_num in var_members[a]:
                                src = nodes[idx_of[src_num]]
                                src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                        elif cur_def is not None and a in cur_def["params"]:
                            # inside a def body: a parameter consumed here
                            # is a flow target for every call site's arg
                            cur_def["param_uses"].setdefault(a, []).append(
                                (node["node_number"], pos)
                            )
                        elif (tf := tracked_field(a)) is not None:
                            # field/subscript read of a TRACKED value as
                            # a positional arg: a read node of its own,
                            # fed DATA-0 by the container, flowing at the
                            # arg ordinal (the per-occurrence read shape
                            # of `example1.json` node 90)
                            rn = mint_field_read(tf, a, ln, phys)
                            src = nodes[idx_of[rn]]
                            src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                        elif (fp := field_ref(a)) is not None:
                            # `obj.field` / `obj['field']` positional arg
                            # loading a stored tracked value — the value
                            # flows; the untracked object contributes no
                            # node (store/load is SSA plumbing in WALA)
                            src = nodes[idx_of[fp]]
                            src["flows_to"] = _append_flow(src["flows_to"], str(pos), node["node_number"])
                        elif _CALL_RE.match(a):
                            # nested call as positional arg: resolve after
                            # the whole line's calls are discovered
                            pending_nested.append(
                                (m.end() + aoff, node["node_number"], pos)
                            )
                        elif (bx := _ARG_BINOP_RE.match(a)) is not None:
                            # binop positional arg: `.expr` turtle node,
                            # resolved after the line's calls exist
                            pending_exprs.append(
                                (node["node_number"], pos,
                                 m.end() + aoff, bx)
                            )
                        elif (
                            cur_class is not None
                            and cur_def is not None
                            and (sf_ := _SELF_FIELD_RE.match(a))
                        ):
                            # unresolved `self.f` positional arg: defer
                            # to the dispatch site (setter stores)
                            cur_def.setdefault(
                                "self_field_uses", {}
                            ).setdefault(sf_.group(1), []).append(
                                (node["node_number"], pos)
                            )
                        elif a[:1] == "*" and (
                            (sp_ := a.lstrip("*")) in var_members
                            or sp_ in var_producer
                        ):
                            # splat arg (`f(*xs)` / `f(**cfg)`): the
                            # container's tracked members flow into the
                            # call at the splat's source ordinal (the
                            # per-element ordinals are unknowable
                            # statically — WALA flows each element; this
                            # honest subset unions them at one position)
                            srcs = ([var_producer[sp_]]
                                    if sp_ in var_producer
                                    else var_members[sp_])
                            for src_num in srcs:
                                src = nodes[idx_of[src_num]]
                                src["flows_to"] = _append_flow(
                                    src["flows_to"], str(pos),
                                    node["node_number"],
                                )
                    if lhs_vars and chain_start == rhs_start:
                        if len(lhs_vars) > 1:
                            # tuple unpack of a recognized call: one
                            # element node per output with an ORDINAL path
                            # extension — `train, test =
                            # train_test_split(...)` yields nodes
                            # path+['0'] / path+['1'] fed by the call at
                            # DATA-0, each carrying its variable name (the
                            # reference shape: `sample_graph/example2.json`
                            # nodes 87/89/90)
                            deferred_binds = []
                            for i, v in enumerate(lhs_vars):
                                elem = new_node(list(path) + [str(i)],
                                                ln, phys, v)
                                elem["value_names"] = [v]
                                node["flows_to"] = _append_flow(
                                    node["flows_to"], "0",
                                    elem["node_number"]
                                )
                                deferred_binds.append(
                                    (v, elem["node_number"], None)
                                )
                        else:
                            node["value_names"] = lhs_vars
                            # a chain continuation (`….meth()`) shares
                            # rhs_start via chain_start, so the
                            # chain-FINAL node overwrites — WALA binds
                            # the postfix expression's value
                            deferred_binds = [
                                (v, node["node_number"], produced_klass)
                                for v in lhs_vars
                            ]
                # apply the rhs-head call's lhs binding now that every
                # call on the line has read the OLD bindings (SSA: uses
                # before the def)
                for v, num, kls_ in deferred_binds:
                    var_producer[v] = num
                    var_members.pop(v, None)
                    if kls_:
                        var_klass[v] = kls_
                    else:
                        # G8 receiver-context subset (WALA keys receivers
                        # by allocation site, `…Engine.java:456-486`): a
                        # non-ctor result REBINDS the variable to a value
                        # of unknown class — keeping the old binding
                        # would resolve later `v.meth()` against the
                        # stale class and cross-wire the receiver edge
                        var_klass.pop(v, None)
                if compr is not None:
                    lhs_c, lv_, (sm_, se_, sp_, sk_) = compr
                    # the comprehension VALUE is a container of the
                    # expression's per-element result — the lhs holds
                    # the call node as a MEMBER (a later `for y in ys:`
                    # or `f(ys)` sees it), never as the value itself
                    if lhs_c in var_producer:
                        var_members[lhs_c] = [var_producer.pop(lhs_c)]
                        var_elem[lhs_c] = var_members[lhs_c]
                        var_klass.pop(lhs_c, None)
                    # the loop var does not leak (comprehension scope)
                    for d_, old_ in ((var_members, sm_), (var_elem, se_),
                                     (var_producer, sp_), (var_klass, sk_)):
                        if old_ is None:
                            d_.pop(lv_, None)
                        else:
                            d_[lv_] = old_
                # binop args mint the reference's `.expr` turtle: path =
                # first tracked operand's path + ['expr'], constant
                # operands recorded at their 0-based ordinal, tracked/call
                # operands flowing at theirs, and the expr node flowing
                # into the consuming call at the arg's ordinal
                # (`example2.json` nodes 101-103)
                for outer_num, arg_pos, val_off, bm in pending_exprs:
                    feeds, consts = [], {}
                    for k in (1, 2):
                        txt = bm.group(k)
                        sv_ = _str_arg(txt)
                        if sv_ is not None:
                            consts[str(k - 1)] = sv_
                        elif _NUM_ARG.match(txt):
                            consts[str(k - 1)] = txt
                        elif txt in var_producer:
                            feeds.append((var_producer[txt], k - 1))
                        elif _CALL_RE.match(txt):
                            inner = line_call_nodes.get(val_off + bm.start(k))
                            if inner is not None and inner != outer_num:
                                feeds.append((inner, k - 1))
                    if not feeds:
                        continue
                    enode = new_node(
                        list(nodes[idx_of[feeds[0][0]]]["path"]) + ["expr"],
                        ln, phys, bm.group(0),
                    )
                    for ck, cv in consts.items():
                        enode["constant_positional_args"][ck] = cv
                    for src_num, k in feeds:
                        s = nodes[idx_of[src_num]]
                        s["flows_to"] = _append_flow(
                            s["flows_to"], str(k), enode["node_number"]
                        )
                    enode["flows_to"] = _append_flow(
                        enode["flows_to"], str(arg_pos), outer_num
                    )
                # resolve nested-call args now that every call expression
                # on the line has its (final) node: inner result flows to
                # the outer call at the arg's source-order ordinal
                for inner_start, outer_num, arg_pos in pending_nested:
                    inner = line_call_nodes.get(inner_start)
                    if inner is not None and inner != outer_num:
                        src = nodes[idx_of[inner]]
                        src["flows_to"] = _append_flow(
                            src["flows_to"], str(arg_pos), outer_num
                        )
                # nested-call args at LOCAL-DEF call sites: the inner
                # call's node wires to every body use of the parameter
                for inner_start, uses in pending_def_args:
                    inner = line_call_nodes.get(inner_start)
                    if inner is None:
                        continue
                    src = nodes[idx_of[inner]]
                    for nnum, use_pos in uses:
                        if nnum != inner:
                            src["flows_to"] = _append_flow(
                                src["flows_to"], str(use_pos), nnum
                            )
                # `return <call expr>` in a def body: the expression's
                # chain-final node is the def's return producer (the
                # plain-variable form was captured before call parsing)
                if cur_def is not None and made_call_node:
                    rx = _RETURN_EXPR_RE.match(line)
                    if rx is not None:
                        rnum = line_call_nodes.get(rx.start(1))
                        if rnum is not None:
                            cur_def["ret"] = rnum
                            cur_def["ret_klass"] = line_call_klass.get(rx.start(1))
                            cur_def.setdefault("ret_set", []).append(
                                (cur_def["ret"], cur_def["ret_klass"])
                            )
                        _mark_arm_dead()
                # container literal whose members are CALLS:
                # `ms = [SVC(1), SVC(2)]` — the lhs is a container, not
                # the last call's value; binding it as a call result
                # (producer = last ctor, class = SVC) is exactly the
                # G8 cross-wire (`ms.fit(x)` would resolve against a
                # list).  Rebind the lhs as members: tracked variable
                # parts + every top-level call node on the line.
                if made_call_node:
                    cm_call = _CONTAINER_RE.match(line)
                    if cm_call:
                        members = []
                        for _, part in _args(cm_call.group(2)):
                            val = part.split(":", 1)[-1].strip() if ":" in part else part
                            if val in var_producer:
                                members.append(var_producer[val])
                        inner_starts = {s for s, _, _ in pending_nested}
                        members.extend(
                            num for start, num in line_call_nodes.items()
                            if start not in inner_starts
                        )
                        v = cm_call.group(1)
                        if members:
                            var_members[v] = list(dict.fromkeys(members))
                            var_producer.pop(v, None)
                            var_klass.pop(v, None)
                            # dict literal: string keys ALSO store their
                            # values for keyed loads (the ObjectLiteral
                            # per-key fieldStore — `cfg = {'m': SVC()}`
                            # then `cfg['m'].fit(x)`)
                            kf = _dict_literal_fields(
                                line, cm_call, var_producer, var_klass,
                                line_call_nodes, line_call_klass,
                            )
                            if kf:
                                var_fields[v] = kf
                    fcm = _FOR_CALL_RE.match(line)
                    if fcm:
                        # `for v in f(...):` — iteration over a call
                        # result: the iterable expression's chain-final
                        # node feeds the loop targets as members (the
                        # EachElementGet shape over a call value, e.g.
                        # `for chunk in pandas.read_csv(f, chunksize=n):`)
                        env0_for = _env_snap()
                        rnum = line_call_nodes.get(fcm.start(2))
                        if rnum is not None:
                            for v in (t.strip()
                                      for t in fcm.group(1).split(",")):
                                var_members[v] = [rnum]
                                var_elem[v] = var_members[v]
                                var_producer.pop(v, None)
                                var_klass.pop(v, None)
                                var_fields.pop(v, None)
                        # the loop body forks like a while (zero
                        # iterations possible); "pre" already includes
                        # the iterable's call node, which always runs,
                        # and env0 excludes the loop-var binding
                        branch_stack.append({
                            "indent": indent_,
                            "pre": list(prev_in_snippet), "tails": [],
                            "has_else": False, "env0": env0_for,
                            "env_tails": [],
                        })
                # `xs.append(v)` on an untracked variable: container
                # membership add — the tracked value (a plain variable
                # or a call made on this line) joins xs's members, so a
                # later `for d in xs:` or `f(xs)` sees it (the list-new
                # half of `…Engine.java:1905-1920`'s def-use recursion;
                # append on a TRACKED value stays a method call)
                apm = _APPEND_RE.match(line)
                if apm and apm.group(1) not in var_producer:
                    argt = apm.group(2)
                    prod = None
                    if argt in var_producer:
                        prod = var_producer[argt]
                    elif made_call_node:
                        prod = line_call_nodes.get(apm.start(2))
                    if prod is not None:
                        obj = apm.group(1)
                        mem = var_members.setdefault(obj, [])
                        if prod not in mem:
                            mem.append(prod)
                        continue
                # container-literal assignment: v = [a, b] / (a, b) /
                # {'k': a} — remember which tracked producers flow into
                # the container so a later call taking v sees them
                if not made_call_node:
                    # G2 read/slice NODES (reference shapes evidenced by
                    # `sample_graph/example2.json` nodes 91-100 and the
                    # wala/builtin/slice probe `…Engine.java:1697-1704`):
                    # an assignment whose rhs reads an attribute or a
                    # string subscript of a tracked value becomes a node
                    # of its own, path = producer.path + [field], fed by
                    # the producer at DATA-0; a [a:b] slice adds an
                    # is_slice node fed by the sliced value at position 1
                    # (the slice builtin's container argument).  One read
                    # node per statement — the reference's per-occurrence
                    # duplicate read nodes are outside the honest subset.
                    # semForms expression shape (dataflow-normalized
                    # mining, see extract_page_expressions): record the
                    # expression when every receiver is tracked, then
                    # FALL THROUGH — the write/read scan below still
                    # owns the subscript-write edge, and a plain-lhs
                    # line matches no later handler.
                    em = _EXPR_BINOP_RE.match(line)
                    if em:
                        plain_lhs, lrecv = em.group(1), em.group(2)
                        lfield = em.group(3) if em.group(3) is not None else em.group(4)
                        r1 = em.group(5)
                        f1 = em.group(6) if em.group(6) is not None else em.group(7)
                        op = em.group(8)
                        r2 = em.group(9)
                        f2 = em.group(10) if em.group(10) is not None else em.group(11)
                        recvs = ([lrecv] if lrecv else []) + [r1, r2]
                        if all(r in var_producer for r in recvs):
                            canon: dict[int, str] = {}

                            def _frame(r):
                                p = var_producer[r]
                                if p not in canon:
                                    canon[p] = f"df{len(canon)}"
                                return canon[p]

                            parts = []
                            if lrecv:
                                parts.append(f"{_frame(lrecv)}['{lfield}'] = ")
                            parts.append(
                                f"{_frame(r1)}['{f1}'] {op} {_frame(r2)}['{f2}']"
                            )
                            if exprs is not None:
                                exprs.append({
                                    "code": "".join(parts),
                                    "bases": [
                                        ".".join(nodes[idx_of[p]]["path"])
                                        for p in canon
                                    ],
                                })
                            if plain_lhs:
                                # G7 binop propagation: the target holds
                                # values read from both frames
                                members = list(dict.fromkeys(
                                    [var_producer[r1], var_producer[r2]]
                                ))
                                var_members[plain_lhs] = members
                                var_producer.pop(plain_lhs, None)
                                var_klass.pop(plain_lhs, None)
                    srm = _SLICE_ASSIGN_RE.match(line)
                    if srm and srm.group(2) in var_producer:
                        x, v, attr = srm.group(1), srm.group(2), srm.group(3)
                        p = var_producer[v]
                        base = list(nodes[idx_of[p]]["path"])
                        src_num = p
                        if attr:
                            rnode = new_node(base + [attr], ln, phys, f"{v}.{attr}")
                            rnode["reads"] = [{"container": [p], "field": attr}]
                            psrc = nodes[idx_of[p]]
                            psrc["flows_to"] = _append_flow(
                                psrc["flows_to"], "0", rnode["node_number"]
                            )
                            base = base + [attr]
                            src_num = rnode["node_number"]
                        snode = new_node(list(base), ln, phys,
                                         line.split("=", 1)[1].strip())
                        snode["is_slice"] = True
                        snode["value_names"] = [x]
                        ssrc = nodes[idx_of[src_num]]
                        ssrc["flows_to"] = _append_flow(
                            ssrc["flows_to"], "1", snode["node_number"]
                        )
                        var_producer[x] = snode["node_number"]
                        var_members.pop(x, None)
                        var_klass.pop(x, None)
                        continue
                    asm = _ATTR_SUBSCR_SEL_RE.match(line)
                    if asm and asm.group(2) in var_producer:
                        # attr read + non-slice subscript in one
                        # expression: read node (path+attr, container
                        # producer, fed at 0), then either a second
                        # field read (string key) or the path-unchanged
                        # selection node (fed at 1, the example1 node-84
                        # shape); x tracks the final node
                        x, v, attr = asm.group(1), asm.group(2), asm.group(3)
                        idx = asm.group(4).strip()
                        p = var_producer[v]
                        base = list(nodes[idx_of[p]]["path"])
                        rnode = new_node(base + [attr], ln, phys, f"{v}.{attr}")
                        rnode["reads"] = [{"container": [p], "field": attr}]
                        psrc = nodes[idx_of[p]]
                        psrc["flows_to"] = _append_flow(
                            psrc["flows_to"], "0", rnode["node_number"]
                        )
                        key = _str_arg(idx)
                        if key and not key.isdigit():
                            fnode = new_node(base + [attr, key], ln, phys,
                                             line.split("=", 1)[1].strip())
                            fnode["reads"] = [{
                                "container": [rnode["node_number"]],
                                "field": key,
                            }]
                            rnode["flows_to"] = _append_flow(
                                rnode["flows_to"], "0", fnode["node_number"]
                            )
                            final = fnode
                        else:
                            snode = new_node(base + [attr], ln, phys,
                                             line.split("=", 1)[1].strip())
                            rnode["flows_to"] = _append_flow(
                                rnode["flows_to"], "1", snode["node_number"]
                            )
                            final = snode
                        final["value_names"] = [x]
                        var_producer[x] = final["node_number"]
                        var_members.pop(x, None)
                        var_klass.pop(x, None)
                        continue
                    arm = _ATTR_ASSIGN_RE.match(line)
                    krm = None if arm else _SUBSCR_READ_RE.match(line)
                    rm_ = arm or krm
                    if rm_ and rm_.group(2) in var_producer:
                        x, v = rm_.group(1), rm_.group(2)
                        field = (rm_.group(3) if arm
                                 else (krm.group(3) if krm.group(3) is not None
                                       else krm.group(4)))
                        if field and not field.isdigit():
                            p = var_producer[v]
                            rnode = new_node(
                                list(nodes[idx_of[p]]["path"]) + [field],
                                ln, phys, line.split("=", 1)[1].strip(),
                            )
                            rnode["reads"] = [{"container": [p], "field": field}]
                            rnode["value_names"] = [x]
                            psrc = nodes[idx_of[p]]
                            psrc["flows_to"] = _append_flow(
                                psrc["flows_to"], "0", rnode["node_number"]
                            )
                            var_producer[x] = rnode["node_number"]
                            var_members.pop(x, None)
                            var_klass.pop(x, None)
                            if arm and field in methods_of.get(
                                var_klass.get(v, ""), {}
                            ):
                                # bound method read: candidate for the
                                # G4 collapse if `x(...)` turns out to
                                # be its sole use
                                var_bound[x] = (
                                    rnode["node_number"], p,
                                    methods_of[var_klass[v]][field],
                                )
                            elif arm:
                                # TURTLE bound method (final r5):
                                # `g = df.dropna` then `g()` — WALA's
                                # collapse fixpoint fuses the read into
                                # the invoke regardless of catalog
                                # membership; the fused path is the
                                # turtle extension the read already
                                # carries
                                var_bound[x] = (
                                    rnode["node_number"], p,
                                    list(rnode["path"]),
                                )
                            continue
                    if rm_ and rm_.group(2) not in var_producer:
                        # field LOAD from an UNTRACKED object: if a
                        # tracked value was stored under this field, the
                        # lhs aliases it — plain value propagation, no
                        # read node (the object is not a turtle; WALA
                        # resolves the store/load pair in the pointer
                        # analysis, `…Engine.java:1892-1954`)
                        field = (rm_.group(3) if arm
                                 else (krm.group(3) if krm.group(3) is not None
                                       else krm.group(4)))
                        ent = (var_fields.get(rm_.group(2), {}).get(field)
                               if field else None)
                        if ent is not None:
                            x = rm_.group(1)
                            var_producer[x] = ent[0]
                            var_members.pop(x, None)
                            if ent[1]:
                                var_klass[x] = ent[1]
                            else:
                                var_klass.pop(x, None)
                            continue
                    sel = _SUBSCR_SEL_RE.match(line)
                    if sel and sel.group(2) in var_producer:
                        # whole-subscript selection with a complex index
                        # (`X = data[data.columns[:…]]`): one node, path
                        # unchanged, fed at DATA-0 — the reference's
                        # subscript-read shape (`example1.json` node 84;
                        # its node-ref reads-field is outside the honest
                        # subset, so the reads list stays empty).  When
                        # the index itself slices an attribute of a
                        # tracked value (`data.columns[:…]`), the
                        # reference's inner chain materializes too:
                        # container →0→ attr READ →1→ attr SLICE →1→ the
                        # selection (example1.json nodes 84-86)
                        x, v = sel.group(1), sel.group(2)
                        p = var_producer[v]
                        inner_feed = None
                        isl = _INNER_ATTR_SLICE_RE.match(sel.group(3))
                        if isl and isl.group(1) in var_producer:
                            ip = var_producer[isl.group(1)]
                            ibase = list(nodes[idx_of[ip]]["path"])
                            attr = isl.group(2)
                            rnode = new_node(ibase + [attr], ln, phys,
                                             f"{isl.group(1)}.{attr}")
                            rnode["reads"] = [{"container": [ip],
                                               "field": attr}]
                            rnode["constant_positional_args"]["1"] = attr
                            ipsrc = nodes[idx_of[ip]]
                            ipsrc["flows_to"] = _append_flow(
                                ipsrc["flows_to"], "0", rnode["node_number"]
                            )
                            slnode = new_node(ibase + [attr], ln, phys,
                                              isl.group(0))
                            slnode["is_slice"] = True
                            rnode["flows_to"] = _append_flow(
                                rnode["flows_to"], "1", slnode["node_number"]
                            )
                            inner_feed = slnode["node_number"]
                        snode = new_node(list(nodes[idx_of[p]]["path"]),
                                         ln, phys,
                                         line.split("=", 1)[1].strip())
                        snode["value_names"] = [x]
                        psrc = nodes[idx_of[p]]
                        psrc["flows_to"] = _append_flow(
                            psrc["flows_to"], "0", snode["node_number"]
                        )
                        if inner_feed is not None:
                            isrc = nodes[idx_of[inner_feed]]
                            isrc["flows_to"] = _append_flow(
                                isrc["flows_to"], "1", snode["node_number"]
                            )
                        var_producer[x] = snode["node_number"]
                        var_members.pop(x, None)
                        var_klass.pop(x, None)
                        continue
                    fm = _FOR_RE.match(line)
                    if fm:
                        # `for v in x:` — iteration propagates x's
                        # turtle-ness into each loop target (the
                        # EachElementGet shape; element identity is not
                        # modeled, so targets carry x's producers as
                        # members, like container membership)
                        env0_for = _env_snap()
                        if (fm.group(2) in var_producer
                                or fm.group(2) in var_members):
                            src_list = ([var_producer[fm.group(2)]]
                                        if fm.group(2) in var_producer
                                        else list(var_members[fm.group(2)]))
                            for v in (t.strip()
                                      for t in fm.group(1).split(",")):
                                var_members[v] = list(src_list)
                                var_elem[v] = var_members[v]
                                var_producer.pop(v, None)
                                var_klass.pop(v, None)
                                var_fields.pop(v, None)
                        # the loop body forks like a while (zero
                        # iterations possible): fall-through at the
                        # join, loop-header phi, env0 excluding the
                        # loop-var binding
                        branch_stack.append({
                            "indent": indent_,
                            "pre": list(prev_in_snippet), "tails": [],
                            "has_else": False, "env0": env0_for,
                            "env_tails": [],
                        })
                        continue
                    gm = _AUG_RE.match(line)
                    if gm and (gm.group(2) in var_producer or gm.group(2) in var_members):
                        # `x op= a` — augmented assignment is the binop
                        # propagation (G7) folded into x: x keeps its own
                        # producers and gains a's
                        members = []
                        if gm.group(1) in var_producer:
                            members.append(var_producer[gm.group(1)])
                        members.extend(var_members.get(gm.group(1), ()))
                        if gm.group(2) in var_producer:
                            members.append(var_producer[gm.group(2)])
                        else:
                            members.extend(var_members[gm.group(2)])
                        var_members[gm.group(1)] = members
                        var_producer.pop(gm.group(1), None)
                        var_klass.pop(gm.group(1), None)
                        continue
                    tm = _TERNARY_RE.match(line)
                    if tm and any(
                        r in var_producer or r in var_members
                        for r in (tm.group(2), tm.group(3))
                    ):
                        # `x = a if cond else b` — WALA's phi: both arms
                        # flow into x (union, like the loop-element
                        # shape); method calls on x resolve through the
                        # union-receiver path when the arms' classes
                        # agree
                        members = []
                        for r in (tm.group(2), tm.group(3)):
                            if r in var_producer:
                                members.append(var_producer[r])
                            members.extend(var_members.get(r, ()))
                        v = tm.group(1)
                        var_members[v] = list(dict.fromkeys(members))
                        var_elem[v] = var_members[v]
                        var_producer.pop(v, None)
                        var_klass.pop(v, None)
                        continue
                    bo = _BOOLOP_RE.match(line)
                    if bo:
                        # `x = a or b` / `x = a and b` (late r5) —
                        # Python's boolean operators RETURN one of the
                        # operands, so this is the ternary phi over the
                        # short-circuit arms: every tracked operand
                        # unions into x
                        operands = [bo.group(2)] + _BOOLOP_OPERAND_RE.findall(
                            bo.group(3)
                        )
                        if any(
                            r in var_producer or r in var_members
                            for r in operands
                        ):
                            members = []
                            for r in operands:
                                if r in var_producer:
                                    members.append(var_producer[r])
                                members.extend(var_members.get(r, ()))
                            v = bo.group(1)
                            var_members[v] = list(dict.fromkeys(members))
                            var_elem[v] = var_members[v]
                            var_producer.pop(v, None)
                            var_klass.pop(v, None)
                            continue
                    cm = _CONTAINER_RE.match(line)
                    am = None if cm else _ALIAS_RE.match(line)
                    bm = None if (cm or am) else _BINOP_RE.match(line)
                    if cm:
                        members = []
                        for _, part in _args(cm.group(2)):
                            val = part.split(":", 1)[-1].strip() if ":" in part else part
                            if val in var_producer:
                                members.append(var_producer[val])
                        if members:
                            var_members[cm.group(1)] = members
                            var_producer.pop(cm.group(1), None)
                            var_klass.pop(cm.group(1), None)
                            # dict literal with string keys: keyed
                            # stores for later `cfg['k']` loads
                            kf = _dict_literal_fields(
                                line, cm, var_producer, var_klass,
                            )
                            if kf:
                                var_fields[cm.group(1)] = kf
                    elif am and (am.group(2) in var_producer or am.group(2) in var_members):
                        # copy propagation: `d = c` aliases c's producer(s)
                        # (the reference's SSA value flow makes this free)
                        v, rhs = am.group(1), am.group(2)
                        if rhs in var_producer:
                            var_producer[v] = var_producer[rhs]
                            var_members.pop(v, None)
                            if rhs in var_klass:
                                var_klass[v] = var_klass[rhs]
                            else:
                                var_klass.pop(v, None)
                            if rhs in var_bound:
                                # the alias still names the same bound
                                # read — WALA's collapse fixpoint sees
                                # through SSA copies (`h = f; h(x)`)
                                var_bound[v] = var_bound[rhs]
                            else:
                                var_bound.pop(v, None)
                            if re.match(r"^_unp\d+_\d+$", rhs):
                                # lowering temp from a literal-tuple
                                # unpack: the USER name is v — swap it
                                # into the producer's value_names so the
                                # synthetic temp never reaches output
                                for node in nodes:
                                    if node["node_number"] == var_producer[v]:
                                        node["value_names"] = [
                                            v if nm == rhs else nm
                                            for nm in node["value_names"]
                                        ]
                                        break
                                var_producer.pop(rhs, None)
                                var_klass.pop(rhs, None)
                        else:
                            var_members[v] = list(var_members[rhs])
                            if rhs in var_elem and var_members.get(rhs) == var_elem[rhs]:
                                var_elem[v] = var_members[v]
                            else:
                                var_elem.pop(v, None)
                            var_producer.pop(v, None)
                            var_klass.pop(v, None)
                    elif bm:
                        # G7 subset: turtle-ness propagates through binary
                        # operators (`…Engine.java:596-674`'s …/expr
                        # types) — `c = a + b` makes c carry a's and b's
                        # producers, so a later call taking c sees both
                        members = []
                        for operand in re.split(r"[-+*/%&|]", bm.group(2)):
                            operand = operand.strip()
                            if operand in var_producer:
                                members.append(var_producer[operand])
                            elif operand in var_members:
                                members.extend(var_members[operand])
                        if members:
                            var_members[bm.group(1)] = members
                            var_producer.pop(bm.group(1), None)
                            var_klass.pop(bm.group(1), None)
                # reads/writes on values produced by recognized calls
                # (honest G2 subset of `PythonTurtleAnalysisEngine.java:
                # 1892-1954`'s AstPropertyRead/Write handling): an
                # attribute or string-subscript assignment on a tracked
                # variable is a write on its producer node; a bare
                # attribute access (not a call, not a dotted chain) is a
                # read.  All-digit fields are skipped — the emitters
                # interpret digit fields as node references
                # (`…Engine.java:400-414`), which this extractor cannot
                # honestly produce from a snippet.
                wm = _ATTR_WRITE_RE.match(line)
                w_field = wm.group(2) if wm else None
                if wm is None:
                    sm2 = _SUBSCR_WRITE_RE.match(line)
                    if sm2:
                        wm = sm2
                        w_field = sm2.group(2) if sm2.group(2) is not None else sm2.group(3)
                if wm and w_field and not w_field.isdigit() and wm.group(1) in var_producer:
                    src = nodes[idx_of[var_producer[wm.group(1)]]]
                    src["writes"] = src["writes"] + [{"container": None, "field": w_field}]
                if wm and w_field and not w_field.isdigit():
                    # field STORE of a tracked value into any object —
                    # remember (producer, class) so later loads of the
                    # same field propagate the value (WALA def-use
                    # through AstPropertyWrite, `…Engine.java:1892-1954`)
                    rhs_txt = line.split("=", 1)[1].strip()
                    if rhs_txt in var_producer:
                        var_fields.setdefault(wm.group(1), {})[w_field] = (
                            var_producer[rhs_txt], var_klass.get(rhs_txt)
                        )
                    elif (
                        cur_def is not None
                        and cur_class is not None
                        and wm.group(1) == "self"
                        and rhs_txt in cur_def["params"]
                    ):
                        # `self.f = <param>` (the setter/__init__-store
                        # pattern): the stored value exists only per
                        # call site — defer; the dispatch site binds the
                        # INSTANCE's field from its own argument
                        cur_def.setdefault("param_field_stores", []).append(
                            (w_field, rhs_txt)
                        )
                    else:
                        # rhs is a call made on THIS line (`h.model =
                        # SVC()`): the chain-final node at the rhs
                        # expression's start offset is the stored value.
                        # An UNTRACKED rhs overwrite drops a previous
                        # store of the same field (stale-binding rule).
                        rstart = len(line) - len(line.split("=", 1)[1].lstrip())
                        if made_call_node and rstart in line_call_nodes:
                            var_fields.setdefault(wm.group(1), {})[w_field] = (
                                line_call_nodes[rstart],
                                line_call_klass.get(rstart),
                            )
                        else:
                            var_fields.get(wm.group(1), {}).pop(w_field, None)
                for rm in _ATTR_READ_RE.finditer(line):
                    if wm is not None and rm.start(1) == wm.start(1):
                        continue  # the write target itself is not a read
                    if _inert_at(line, rm.start()):
                        continue  # `'df.empty'` is text; f-string braces evaluate
                    if rm.group(1) in var_producer:
                        src = nodes[idx_of[var_producer[rm.group(1)]]]
                        src["reads"] = src["reads"] + [{"container": None, "field": rm.group(2)}]
            if cur_def is not None:
                # def block runs to the end of the snippet: drain its
                # frames under the body env before registering
                _drain_frames()
                if cur_class is not None:
                    if cur_def["name"] == "__init__":
                        cur_class["fields"] = dict(var_fields.get("self", {}))
                        d_ = dict(cur_def)
                        d_["params"] = [p for p in d_["params"] if p != "self"]
                        local_defs[cur_class["name"]] = d_
                    else:
                        d_ = dict(cur_def)
                        d_["params"] = [p for p in d_["params"] if p != "self"]
                        cur_class["methods"][cur_def["name"]] = d_
                    cur_class = None
                else:
                    local_defs[cur_def["name"]] = cur_def
                (var_producer, var_klass, var_members,
                 var_fields, prev_in_snippet) = outer_env
                cur_def, outer_env = None, None
            cur_class = None
        if any(n.get("_dead") for n in nodes):
            # sweep G4-collapsed read turtles: splice each dead node out
            # of the immediatelyPrecedes chain (its predecessors inherit
            # its successors, transitively through consecutive dead
            # nodes), then drop it — node numbers keep their gaps, like
            # the reference graph after removeNodeAndEdges
            dead = {n["node_number"]: n["immediately_precedes"]
                    for n in nodes if n.get("_dead")}

            def live_targets(num, seen):
                out = []
                for t in dead.get(num, ()):
                    if t in seen:
                        continue
                    seen.add(t)
                    if t in dead:
                        out.extend(live_targets(t, seen))
                    else:
                        out.append(t)
                return out

            for n in nodes:
                if n.get("_dead"):
                    continue
                ip = n["immediately_precedes"]
                if any(d in dead for d in ip):
                    out = []
                    for d in ip:
                        repl = (live_targets(d, {d}) if d in dead else [d])
                        for t in repl:
                            if t not in out and t != n["node_number"]:
                                out.append(t)
                    n["immediately_precedes"] = out
            nodes = [n for n in nodes if not n.pop("_dead", False)]
        for n in nodes:
            # `_subN_` lowering temps are WALA's unnamed intermediate
            # values — they never reach output
            if n["value_names"] and any(_SUB_TMP_RE.match(v)
                                        for v in n["value_names"]):
                n["value_names"] = [v for v in n["value_names"]
                                    if not _SUB_TMP_RE.match(v)]
        return nodes


def _append_flow(flows: dict, key: str, dst: int) -> dict:
    flows = dict(flows)
    flows[key] = flows.get(key, []) + [dst]
    return flows

"""csp.exprtk full surface — expression streams with constants, custom
functions, a trigger, and state variables.

Reference: csp/baselib.py:625-673 (graph-level ``exprtk``) backed by the
C++ ExprTk JIT (cppimpl exprtk_impl). Spark-first mapping:

- **stateless** expressions compile to ONE Catalyst column expression
  over the aligned last-value frame — Spark SQL codegen IS our JIT, so
  the expression language is Spark SQL (documented delta from ExprTk
  syntax; the operator set is equivalent for arithmetic/comparison/
  math-function expressions).
- ``constants`` bind names to literal values (inlined before parsing).
- ``functions`` are macro-expanded inline: {"foo": (("x","y"), "x*y")}
  rewrites ``foo(a, b+1)`` to ``((a)*(b+1))`` — the same inlining the
  ExprTk compiler performs, done before Catalyst sees the text, so the
  result still whole-stage-codegens.
- ``trigger`` samples: compute only on trigger ticks (otherwise on any
  input tick) — same align kernel as csp.sample.
- ``state_vars`` make the expression a per-key RECURRENCE, which no
  window aggregate expresses; that is the designated Arrow path
  (SURVEY.md §7.3): the keyed pandas runner
  (core.noderun._per_key_pandas) evaluates, per key, the statement
  list with Python syntax (``;``-separated, ``:=`` or ``=``
  assignment, last expression is the emitted value), state
  persisting across rows exactly like ``csp.state()`` vars.
"""

from __future__ import annotations

import math
import re
from typing import Mapping

from pyspark.sql import functions as F

from ..core.align import _ticked, align
from ..core.ticks import KEY, SEQ, TS, VALUE, TickStream

__all__ = ["exprtk_ts", "expand_functions"]


def _split_args(s: str, start: int) -> tuple[list[str], int]:
    """Parse a balanced-paren argument list beginning at s[start]=='('.
    Returns (args, index-after-closing-paren)."""
    depth = 0
    args: list[str] = []
    cur = []
    i = start
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
            if depth > 1:
                cur.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                a = "".join(cur).strip()
                if a:
                    args.append(a)
                return args, i + 1
            cur.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    raise ValueError(f"unbalanced parentheses in expression: {s!r}")


def expand_functions(expr: str, functions: Mapping[str, tuple]) -> str:
    """Inline user functions ({"name": ((args...), "body")}) into the
    expression text, innermost-first, with each actual argument
    parenthesized — semantic equivalent of ExprTk's function JIT."""
    if not functions:
        return expr
    for _ in range(32):  # bounded: supports nested/recursive-free use
        changed = False
        for name, (params, body) in functions.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(")
            m = pat.search(expr)
            if not m:
                continue
            args, end = _split_args(expr, m.end() - 1)
            if len(args) != len(params):
                raise ValueError(
                    f"{name}() expects {len(params)} args, got {len(args)}"
                )
            sub = body
            # longest-first so 'xy' is not clobbered by 'x'
            for p, a in sorted(zip(params, args), key=lambda t: -len(t[0])):
                sub = re.sub(rf"\b{re.escape(p)}\b", f"({a})", sub)
            expr = expr[: m.start()] + "(" + sub + ")" + expr[end:]
            changed = True
        if not changed:
            return expr
    raise ValueError("function expansion did not converge (recursive defs?)")


def _bind_constants(expr: str, constants: Mapping[str, float]) -> str:
    for name, v in constants.items():
        expr = re.sub(rf"\b{re.escape(name)}\b", repr(float(v)), expr)
    return expr


def _split_top_commas(s: str) -> list[str]:
    """Split on commas at bracket/paren depth 0."""
    parts, cur, depth = [], [], 0
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


_RETURN_VEC = re.compile(r"^return\s*\[(.*)\]\s*$", re.S)


def _vector_return(stmt: str) -> list[str] | None:
    """ExprTk's vector-return form ``return [e1, e2, ...]`` (reference
    baselib.py:665 output_ndarray contract) → component expressions."""
    m = _RETURN_VEC.match(stmt.strip())
    if m is None:
        return None
    return _split_top_commas(m.group(1))


_CTRL = re.compile(
    r"^\s*(?:(?P<if>if)\s*\((?P<cond>.*?)\)|(?P<elif>else\s+if)\s*"
    r"\((?P<cond2>.*?)\)|(?P<else>else))\s*(?P<rest>.*)$",
    re.S,
)
_ASSIGN = re.compile(r"^([A-Za-z_]\w*)\s*(?::=|=(?!=))\s*(.+)$", re.S)


def _compile_program(stmts: "list[str]"):
    """Lower the exprtk statement list to ONE compiled Python program.

    Supported grammar (the reference exprtk subset its examples use):
    ';'-separated statements, ``X := expr`` state assignment (plain
    ``=`` accepted), ``if (c) stmt; else if (c) stmt; else stmt;``
    chains, ``csp.now()`` (engine time as epoch seconds). The
    program's result ``__r`` is the value of the LAST EXECUTED
    statement — exprtk's expression-value semantics; assigned names
    are harvested for state persistence. Returns (code, assigned)."""
    import ast as _ast

    lines: list[str] = []

    def emit(stmt: str, indent: str) -> None:
        stmt = stmt.strip()
        if not stmt:
            return
        m = _ASSIGN.match(stmt)
        if m:
            lines.append(f"{indent}{m.group(1)} = {m.group(2)}")
            lines.append(f"{indent}__r = {m.group(1)}")
        else:
            lines.append(f"{indent}__r = ({stmt})")

    for raw in stmts:
        s = raw.replace("csp.now()", "__now").strip()
        m = _CTRL.match(s)
        if m and m.group("if"):
            lines.append(f"if ({m.group('cond')}):")
            emit(m.group("rest"), "    ")
        elif m and m.group("elif"):
            lines.append(f"elif ({m.group('cond2')}):")
            emit(m.group("rest"), "    ")
        elif m and m.group("else"):
            lines.append("else:")
            emit(m.group("rest"), "    ")
        else:
            emit(s, "")
    src = "\n".join(lines) or "__r = None"
    tree = _ast.parse(src)
    assigned = sorted({
        t.id
        for n in _ast.walk(tree)
        if isinstance(n, _ast.Assign)
        for t in n.targets
        if isinstance(t, _ast.Name) and t.id != "__r"
    })
    return compile(tree, "<exprtk>", "exec"), assigned


def exprtk_ts(
    inputs: Mapping[str, TickStream],
    expression_str: str,
    state_vars: Mapping[str, float] | None = None,
    trigger: TickStream | None = None,
    functions: Mapping[str, tuple] | None = None,
    constants: Mapping[str, float] | None = None,
    output_ndarray: bool = False,
) -> TickStream:
    """csp.exprtk parity (baselib.py:640-673): evaluate the expression
    over the last values of ``inputs`` on every input tick (or on
    ``trigger`` ticks), with constants / inline functions / persistent
    assignable state vars. Emits once all referenced inputs are valid.

    ``output_ndarray=True`` (baselib.py:665): the final statement must
    be ``return [e1, e2, ...]`` and the stream ticks a vector
    (array<double> — the Spark-native ndarray carrier) instead of a
    float. Stateless vectors stay whole-stage-codegen (one F.array of
    column expressions)."""
    state_vars = dict(state_vars or {})
    expr = expand_functions(expression_str, dict(functions or {}))
    expr = _bind_constants(expr, dict(constants or {}))

    streams = dict(inputs)
    if trigger is not None:
        streams["__trigger"] = trigger
    a = align(streams)
    valid = F.lit(True)
    for n in inputs:
        valid = valid & F.col(n).isNotNull()
    a = a.filter(valid)
    if trigger is not None:
        a = a.filter(F.col(_ticked("__trigger")))

    if not state_vars:
        if output_ndarray:
            stmts = [s.strip() for s in expr.split(";") if s.strip()]
            comps = _vector_return(stmts[-1])
            if comps is None:
                raise ValueError(
                    "output_ndarray=True requires the expression to end "
                    "with 'return [e1, e2, ...]'"
                )
            if len(stmts) > 1:
                raise ValueError(
                    "statements before the vector return need state_vars "
                    "(assignments are state)"
                )
            vec = F.array(*[F.expr(c).cast("double") for c in comps])
            return TickStream(a.select(KEY, TS, SEQ, vec.alias(VALUE)))
        out = a.select(KEY, TS, SEQ, F.expr(expr).alias(VALUE))
        return TickStream(out)

    # stateful path: ';'-separated statements, ':=' (or '=') assigns a
    # state var, last expression is the output — evaluated per key in
    # engine order with Python syntax (math.* in scope).
    stmts = [s.strip() for s in expr.split(";") if s.strip()]
    vec_comps = _vector_return(stmts[-1]) if stmts else None
    if output_ndarray:
        if vec_comps is None:
            raise ValueError(
                "output_ndarray=True requires the expression to end "
                "with 'return [e1, e2, ...]'"
            )
        stmts[-1] = "[" + ", ".join(vec_comps) + "]"
    code, assigned = _compile_program(stmts)
    in_names = list(inputs)
    sv0 = dict(state_vars)

    import pandas as pd

    from ..core.noderun import _per_key_pandas

    vtype = "array<double>" if output_ndarray else "double"
    schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {vtype}"
    base = a.select(KEY, TS, SEQ, *in_names)

    def fold(pdf, by_key):
        env_base = {"math": math, **vars(math)}
        outs = []
        for _, g in by_key:
            sv = dict(sv0)
            out_vals = []
            for row in g.itertuples(index=False):
                env = dict(env_base)
                env.update(sv)
                for n in in_names:
                    env[n] = getattr(row, n)
                env["__now"] = getattr(row, TS).timestamp()
                exec(code, {"__builtins__": {}}, env)  # noqa: S102
                result = env.get("__r")
                for t in assigned:
                    if t in env:
                        sv[t] = env[t]
                out_vals.append(
                    [float(v) for v in result]
                    if output_ndarray
                    else float(result)
                )
            out = g[[KEY, TS, SEQ]].copy()
            out[VALUE] = out_vals
            outs.append(out)
        return pd.concat(outs, ignore_index=True)

    return TickStream(_per_key_pandas(base, fold, schema))

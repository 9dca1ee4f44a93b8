#!/usr/bin/env python3
"""Static lint for the HOF lambda-binding defect class (VERDICT r12 #8).

The defect: a lambda passed to an array higher-order function
(``F.transform`` / ``F.aggregate`` / ``F.filter`` / ``F.zip_with`` /
``F.exists`` / ``F.forall``) captures a Python variable that holds an
EXPENSIVE Column subtree (itself an O(d) array aggregate such as
``F.aggregate``, ``dot``, ``l2_norm``). Catalyst does not CSE
interpreted HOF lambdas, so the captured subtree is re-evaluated once
per array element — O(d²) per row. Found 5x by hand in round 12
(word_shingles, quantize_int8, char_entropy, source_overlap, minhash
bands). The fix pattern is to bind the subtree as a lambda VARIABLE:
``F.element_at(F.transform(F.array(expensive), lambda v: ...use v...), 1)``.

Heuristic (AST, per enclosing function scope): flag a lambda argument of
a HOF call whose body references a free variable that was assigned —
anywhere in the same function — from an expression containing a call to
one of the expensive builders. Binding via a helper-function parameter
(the fix pattern) leaves no such assignment, so fixed code passes.

Usage: python tools/hof_lint.py [package_dir]  — prints findings, exit 1
if any not allowlisted. tests/test_hof_lint.py pins zero findings.
"""

from __future__ import annotations

import ast
import os
import sys

# HOF entry points whose lambdas are interpreted per element
HOF_NAMES = {"transform", "aggregate", "filter", "zip_with", "exists", "forall", "reduce"}
# Builders whose result is an O(array) subtree — re-evaluating one per
# element is the quadratic defect. dot/l2_norm/cosine are the repo's
# vector helpers (each an F.aggregate fold).
EXPENSIVE_BUILDERS = {"aggregate", "transform", "zip_with", "dot", "l2_norm", "cosine", "reduce"}

# (file basename, function name, variable) triples audited as NOT
# per-element re-evaluated (e.g. the variable is only used OUTSIDE the
# per-element lambda body, or the subtree is O(1)).
ALLOWLIST: set[tuple[str, str, str]] = set()


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _contains_expensive_call(node: ast.AST) -> bool:
    for sub in ast.walk(node):
        if isinstance(sub, ast.Call) and _call_name(sub) in EXPENSIVE_BUILDERS:
            return True
    return False


def _free_names(lam: ast.Lambda) -> set[str]:
    """Names the lambda loads that no scope inside it binds: its own
    parameters, a nested lambda's parameters and a comprehension's targets
    each shadow an outer name of the same spelling within their scope."""
    names: set[str] = set()

    def visit(node: ast.AST, bound: frozenset) -> None:
        if isinstance(node, ast.Lambda):
            visit(node.body, bound | {a.arg for a in node.args.args})
        elif isinstance(node, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)):
            inner = bound
            for gen in node.generators:
                visit(gen.iter, inner)
                inner = inner | {n.id for n in ast.walk(gen.target) if isinstance(n, ast.Name)}
                for cond in gen.ifs:
                    visit(cond, inner)
            elts = [node.key, node.value] if isinstance(node, ast.DictComp) else [node.elt]
            for e in elts:
                visit(e, inner)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id not in bound:
                names.add(node.id)
        else:
            for child in ast.iter_child_nodes(node):
                visit(child, bound)

    visit(lam, frozenset())
    return names


def lint_file(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    findings = []
    base = os.path.basename(path)
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        # names assigned (in this function) from expensive subtrees
        expensive_vars: set[str] = set()
        for sub in ast.walk(fn):
            if isinstance(sub, ast.Assign) and _contains_expensive_call(sub.value):
                for tgt in sub.targets:
                    if isinstance(tgt, ast.Name):
                        expensive_vars.add(tgt.id)
            elif isinstance(sub, ast.AugAssign) and _contains_expensive_call(sub.value):
                if isinstance(sub.target, ast.Name):
                    expensive_vars.add(sub.target.id)
        if not expensive_vars:
            continue
        for sub in ast.walk(fn):
            if not (isinstance(sub, ast.Call) and _call_name(sub) in HOF_NAMES):
                continue
            for arg in list(sub.args) + [k.value for k in sub.keywords]:
                if not isinstance(arg, ast.Lambda):
                    continue
                hits = _free_names(arg) & expensive_vars
                for h in sorted(hits):
                    if (base, fn.name, h) in ALLOWLIST:
                        continue
                    findings.append(
                        f"{path}:{arg.lineno} {fn.name}(): lambda in "
                        f"{_call_name(sub)}(...) captures expensive subtree "
                        f"'{h}' — bind it as a lambda variable "
                        f"(transform-over-1-element-array pattern)"
                    )
    return findings


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pixels_spark"
    )
    findings = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                findings.extend(lint_file(os.path.join(dirpath, f)))
    for line in findings:
        print(line)
    print(f"hof_lint: {len(findings)} finding(s)")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())

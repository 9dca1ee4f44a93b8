"""Repo-wide HOF lambda-binding lint gate (VERDICT r12 task #8).

The defect class — a lambda passed to an array HOF capturing a Python
variable that holds an O(array) Column subtree, which Catalyst then
re-evaluates per element (O(d²) per row) — was found 5x by hand in
round 12 (word_shingles, quantize_int8, char_entropy, source_overlap,
minhash bands) and once more by this lint in round 13
(eval_mrr_ternary's exact-leg id array). This gate makes the class
impossible to reintroduce: zero findings at HEAD, and any new finding
must either be fixed with the bind-as-lambda-variable pattern or
explicitly audited into tools/hof_lint.py's ALLOWLIST.
"""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import hof_lint  # noqa: E402

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pixels_spark"
)


def test_no_hof_binding_defects():
    findings = []
    for dirpath, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                findings.extend(hof_lint.lint_file(os.path.join(dirpath, f)))
    assert not findings, "\n".join(findings)


def _lint(tmp_path, src: str) -> list[str]:
    p = tmp_path / "q.py"
    p.write_text(src)
    return hof_lint.lint_file(str(p))


def test_lint_catches_the_defect_shape(tmp_path):
    # the original quantize_int8 defect, reduced: an F.aggregate-derived
    # name captured inside a transform lambda must be flagged...
    bad = (
        "def q(vec):\n"
        "    scale = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)\n"
        "    return F.transform(vec, lambda x: x / scale)\n"
    )
    assert _lint(tmp_path, bad), "defect shape not caught"

    # ...and the fixed binding pattern (subtree enters as a lambda
    # variable / helper parameter, no expensive assignment) must pass.
    good = (
        "def q(vec):\n"
        "    def _body(scale):\n"
        "        return F.transform(vec, lambda x: x / scale)\n"
        "    return F.element_at(F.transform(F.array(\n"
        "        F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)), _body), 1)\n"
    )
    assert not _lint(tmp_path, good), "fixed pattern falsely flagged"


def test_lint_respects_nested_lambda_and_comprehension_scopes(tmp_path):
    # `s` names an expensive subtree in the function, but inside the HOF
    # lambda a nested lambda parameter or a comprehension target rebinds
    # it: those loads are the inner binding, not a capture
    head = "def q(vec, mat):\n    s = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)\n"
    shadowed = (
        "    m = F.transform(mat, lambda r: F.aggregate(r, F.lit(0.0), lambda a, s: a + s))\n"
        "    return F.transform(vec, lambda x: F.array(*[x * s for s in range(3)]))\n"
    )
    assert not _lint(tmp_path, head + shadowed), "shadowed name falsely flagged"
    # a nested lambda that does NOT rebind it still captures the outer `s`
    captured = (
        "    return F.transform(mat, lambda r: F.aggregate(r, F.lit(0.0), lambda a, y: a + y * s))\n"
    )
    assert len(_lint(tmp_path, head + captured)) == 2

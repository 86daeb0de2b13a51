"""Structure guard for the streaming engine — pure Python, no Spark session.

The continuous engine's batch pipeline is a sequence of stage methods
(``IncrementalAcyclicQuery._process_batch_inner``); this keeps any one
function of ``streaming/acyclic.py`` or ``streaming/topk.py`` from growing
back into a monolith, keeps ``streaming/`` free of environment-variable
knobs, keeps every optional spec field and defaulted constructor
parameter of the engine and the top-k views in use by some caller, keeps
every top-level name of ``streaming/`` referenced by one, keeps the
engine's manifest the only commit point in ``streaming/``, and keeps
``streaming/`` from changing its caller's session conf."""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

STREAMING = (
    Path(__file__).resolve().parent.parent / "flink_and_acyclic_schema_spark" / "streaming"
)
REPO = STREAMING.parent.parent
MAX_FUNCTION_CODE_LINES = 100
SPEC_CLASSES = ("RelSpec", "TopKSpec", "AcyclicQuerySpec")
# class -> module of the engine classes whose constructor options are guarded
ENGINE_CLASSES = {
    "IncrementalAcyclicQuery": "acyclic.py",
    "TopKView": "topk.py",
    "GroupedTopKView": "topk.py",
}


def _code_lines(src: str) -> tuple[ast.Module, set[int]]:
    """The parsed module and the line numbers that hold code: blank lines,
    comment-only lines and docstrings do not count."""
    tree = ast.parse(src)
    docstrings: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docstrings.update(range(first.lineno, first.end_lineno + 1))
    skip = {
        tokenize.COMMENT,
        tokenize.NL,
        tokenize.NEWLINE,
        tokenize.INDENT,
        tokenize.DEDENT,
        tokenize.ENDMARKER,
    }
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return tree, lines - docstrings


def _function_sizes(src: str) -> dict[str, int]:
    """Code lines per function (nested functions count toward their
    enclosing function too), keyed ``name:line``."""
    tree, lines = _code_lines(src)
    return {
        f"{node.name}:{node.lineno}": sum(
            1 for ln in lines if node.lineno <= ln <= node.end_lineno
        )
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_code_line_counter_skips_docstrings_comments_and_blanks():
    src = '''"""Module docstring."""


def f(x):
    """Docstring
    over two lines."""
    # a comment
    y = (x +
         1)  # trailing comment

    return y
'''
    assert _function_sizes(src) == {"f:4": 4}


def _assert_no_function_over_limit(module: str, anchor: str) -> None:
    sizes = _function_sizes((STREAMING / module).read_text())
    assert anchor in {k.split(":")[0] for k in sizes}
    over = {k: n for k, n in sizes.items() if n > MAX_FUNCTION_CODE_LINES}
    assert not over, f"{module} functions over {MAX_FUNCTION_CODE_LINES} code lines: {over}"


def test_no_acyclic_function_exceeds_code_line_limit():
    _assert_no_function_over_limit("acyclic.py", "_process_batch_inner")


def test_no_topk_function_exceeds_code_line_limit():
    _assert_no_function_over_limit("topk.py", "_commit")


def test_streaming_reads_no_environment_variables():
    hits = []
    for path in sorted(STREAMING.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name in ("environ", "getenv") for a in node.names)
            ):
                hits.append(f"{path.name}:{node.lineno}")
    assert not hits, f"environment reads in streaming/: {hits}"


def test_only_the_engine_commits_a_manifest():
    """One commit point per engine: no ``streaming/`` module but
    ``acyclic.py`` names ``MANIFEST`` or calls ``os.replace``. A top-k
    view's state commits inside the engine's manifest, never beside it,
    so there is no window between two commits to bridge."""
    hits = []
    for path in sorted(STREAMING.glob("*.py")):
        if path.name == "acyclic.py":
            continue
        src = path.read_text()
        if "MANIFEST" in src:
            hits.append(f"{path.name}: names MANIFEST")
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "replace"
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name == "replace" for a in node.names)
            ):
                hits.append(f"{path.name}:{node.lineno}: os.replace")
    assert not hits, f"commit points outside the engine manifest: {hits}"


def test_streaming_never_sets_a_session_conf():
    """The engine runs on its caller's session and must not change it: no
    ``streaming/`` module calls ``<x>.conf.set(...)``. A setting the engine
    relies on belongs in ``session.get_spark``, and the engine checks for
    it instead (``_fits_one_task`` and the single-partition cap)."""
    hits = [
        f"{path.name}:{node.lineno}"
        for path in sorted(STREAMING.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]
    assert not hits, f"session conf writes in streaming/: {hits}"


def _spec_fields(src: str) -> dict[str, list[tuple[str, bool]]]:
    """Spec class -> [(field, has a default)] in declaration order, read from
    the dataclass bodies."""
    return {
        node.name: [
            (st.target.id, st.value is not None)
            for st in node.body
            if isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name)
        ]
        for node in ast.parse(src).body
        if isinstance(node, ast.ClassDef) and node.name in SPEC_CLASSES
    }


def _fields_set(paths, fields: dict[str, list[tuple[str, bool]]]) -> dict[str, set[str]]:
    """Spec class -> the fields some call in ``paths`` sets, by keyword or
    by position."""
    seen: dict[str, set[str]] = {c: set() for c in fields}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in seen:
                continue
            seen[name].update(n for n, _ in fields[name][: len(node.args)])
            seen[name].update(kw.arg for kw in node.keywords if kw.arg)
    return seen


def _callers() -> list[Path]:
    """The code whose calls make an option real: the package, ``bench.py``
    and ``ivmbench/`` — tests and tools do not count."""
    return [
        *sorted((REPO / "flink_and_acyclic_schema_spark").rglob("*.py")),
        REPO / "bench.py",
        *sorted((REPO / "ivmbench").rglob("*.py")),
    ]


def test_every_optional_spec_field_has_a_caller():
    """A spec field with a default is an option; one that no caller sets is
    a constant wearing an option's cost."""
    fields = _spec_fields((STREAMING / "acyclic.py").read_text())
    assert set(fields) == set(SPEC_CLASSES)
    seen = _fields_set(_callers(), fields)
    unset = [
        f"{cls}.{name}"
        for cls, fs in fields.items()
        for name, has_default in fs
        if has_default and name not in seen[cls]
    ]
    assert not unset, f"optional spec fields no caller sets: {unset}"


def _init_params(src: str, classes) -> dict[str, list[tuple[str, bool]]]:
    """Class -> [(``__init__`` parameter, has a default)] in declaration
    order, ``self`` excluded."""
    out = {}
    for node in ast.parse(src).body:
        if not (isinstance(node, ast.ClassDef) and node.name in classes):
            continue
        for st in node.body:
            if isinstance(st, ast.FunctionDef) and st.name == "__init__":
                args = [a.arg for a in st.args.args[1:]]
                n_defaults = len(st.args.defaults)
                out[node.name] = [
                    (a, i >= len(args) - n_defaults) for i, a in enumerate(args)
                ]
    return out


def test_every_defaulted_constructor_parameter_has_a_caller():
    """The same rule for the engine's and the top-k views' constructors: a
    defaulted parameter no caller sets is an option nobody chose. ``resume``
    is exempt: it is the crash-recovery entry point — a restarted stream
    passes it, so in this repo only the crash/resume tests drive it."""
    params: dict[str, list[tuple[str, bool]]] = {}
    for module in sorted(set(ENGINE_CLASSES.values())):
        params.update(_init_params((STREAMING / module).read_text(), ENGINE_CLASSES))
    assert set(params) == set(ENGINE_CLASSES)
    seen = _fields_set(_callers(), params)
    unset = [
        f"{cls}.{name}"
        for cls, ps in params.items()
        for name, has_default in ps
        if has_default and name != "resume" and name not in seen[cls]
    ]
    assert not unset, f"defaulted constructor parameters no caller sets: {unset}"


def _top_level_names(tree: ast.Module) -> dict[str, tuple[int, int]]:
    """Module-level defined name -> line span of its definition: functions,
    classes and plain or annotated assignments."""
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = (node.lineno, node.end_lineno)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out[t.id] = (node.lineno, node.end_lineno)
    return out


def test_every_streaming_top_level_name_is_referenced():
    """A top-level name of ``streaming/`` that no package, ``bench.py`` or
    ``ivmbench/`` code references (as a ``Name`` or an ``Attribute``)
    outside its own definition is dead code; tests and tools do not keep it
    alive."""
    defined = {
        path: _top_level_names(ast.parse(path.read_text()))
        for path in sorted(STREAMING.glob("*.py"))
    }
    used: set[str] = set()
    for path in _callers():
        spans = defined.get(path, {})
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else None
            )
            if name is None:
                continue
            span = spans.get(name)
            if span is None or not span[0] <= node.lineno <= span[1]:
                used.add(name)
    dead = [
        f"{path.name}:{name}"
        for path, names in defined.items()
        for name in names
        if name not in used
    ]
    assert not dead, f"streaming/ top-level names nothing references: {dead}"

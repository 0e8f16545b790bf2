"""Scripts and benchmark files import only names the package still has,
scripts import only sibling scripts and root modules that exist, and the
package takes its settings in one place.

Measurement scripts are not run by the suite, so a script left
importing a deleted function would otherwise only fail when someone
next runs it. Each file is parsed, never executed.

The package also shares frames in one place: only catalog.py
checkpoints, and nothing persists. It writes the read pins once:
session.READ_PINS. It writes each operator once: no run of CLONE_RUN
code lines appears twice. And its prose states contracts: no docstring
or comment carries round history or a measured number."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import io
import os
import re
import tokenize

import pytest

PACKAGE = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL_FILES = sorted(
    os.path.relpath(p, ROOT)
    for pattern in ("scripts/*.py", "perfbench/*.py", "bench.py")
    for p in glob.glob(os.path.join(ROOT, pattern))
)
PACKAGE_FILES = sorted(
    os.path.relpath(p, ROOT)
    for p in glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
)


def package_imports(source: str) -> list[tuple[str, str | None]]:
    """(module, name) for every absolute import of the package anywhere
    in ``source``, nested imports included; name is None for a plain
    ``import module``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module.split(".")[0] == PACKAGE:
                found += [(node.module, a.name) for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE]
    return found


def defined_names(path: str) -> set[str]:
    """Top-level names a module defines: defs, classes, assignments and
    imports, including those under a top-level if/try."""
    with open(path, encoding="utf-8") as f:
        names, stack = set(), list(ast.parse(f.read()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
                names |= {n.id for n in ast.walk(target) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.If, ast.Try)):
            stack += node.body + node.orelse + getattr(node, "finalbody", [])
            stack += [b for h in getattr(node, "handlers", []) for b in h.body]
    return names


def bare_import_problems(path: str) -> list[str]:
    """Bare imports in a script that name a sibling script or a repo-root
    module (``from bench import HEADLINE``, ``from tests.oracle_mirror
    import compare``): each must name an existing file that defines the
    imported names. A module that is neither local nor importable (a
    deleted sibling) is reported too."""
    with open(os.path.join(ROOT, path), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    problems = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            wanted = [(node.module, [a.name for a in node.names if a.name != "*"])]
        elif isinstance(node, ast.Import):
            wanted = [(a.name, []) for a in node.names]
        else:
            continue
        for module, names in wanted:
            if module.split(".")[0] == PACKAGE:
                continue
            rel = module.replace(".", os.sep)
            local = [
                p
                for base in (os.path.join(ROOT, "scripts"), ROOT)
                for p in (os.path.join(base, rel + ".py"), os.path.join(base, rel, "__init__.py"))
                if os.path.isfile(p)
            ]
            if not local:
                if importlib.util.find_spec(module.split(".")[0]) is None:
                    problems.append(f"{module}: no such module")
                continue
            defined = defined_names(local[0])
            problems += [
                f"{module}.{n}"
                for n in names
                if n not in defined
                and not os.path.isfile(os.path.join(os.path.dirname(local[0]), n + ".py"))
            ]
    return problems


def test_tool_files_found():
    assert "bench.py" in TOOL_FILES
    assert any(f.startswith("scripts/") for f in TOOL_FILES)
    assert any(f.startswith("perfbench/") for f in TOOL_FILES)


@pytest.mark.parametrize("path", TOOL_FILES)
def test_tool_imports_resolve(path):
    with open(os.path.join(ROOT, path), encoding="utf-8") as f:
        imports = package_imports(f.read())
    missing = []
    for module, name in imports:
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            missing.append(f"{module}: {exc}")
            continue
        if name is None or hasattr(mod, name):
            continue
        try:  # a submodule its package does not import eagerly
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path} imports names the package lacks: {missing}"
    if path.startswith("scripts/"):
        problems = bare_import_problems(path)
        assert not problems, f"{path} imports missing local modules or names: {problems}"


def setting_reads(source: str) -> list[tuple[int, str]]:
    """(line, what) for every ``os.environ`` / ``os.getenv`` use and
    every call that passes a ``spark.sse.*`` conf key."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        ):
            found.append((node.lineno, f"os.{node.attr}"))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            found += [
                (node.lineno, f"from os import {a.name}")
                for a in node.names
                if a.name in ("environ", "getenv")
            ]
        elif isinstance(node, ast.Call):
            found += [
                (node.lineno, a.value)
                for a in node.args
                if isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and a.value.startswith("spark.sse.")
            ]
    return found


def test_only_session_reads_settings():
    """session.py maps the environment to Spark confs; every other
    package module reads its settings from the SparkSession, and no
    module invents a private ``spark.sse.*`` conf (the SparkContext
    checkpoint dir is the one durability switch)."""
    assert f"{PACKAGE}/session.py" in PACKAGE_FILES
    bad = []
    for path in PACKAGE_FILES:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            reads = setting_reads(f.read())
        if path == f"{PACKAGE}/session.py":
            reads = [r for r in reads if r[1].startswith("spark.sse.")]
        bad += [f"{path}:{line}: {what}" for line, what in reads]
    assert not bad, f"settings read outside session.py: {bad}"


def sharing_calls(source: str) -> list[tuple[int, str | None, str]]:
    """(line, enclosing top-level function or None, method) for every
    ``.localCheckpoint(``, ``.checkpoint(`` and ``.persist(`` call."""
    found = []
    for top in ast.parse(source).body:
        func = top.name if isinstance(top, ast.FunctionDef) else None
        found += [
            (node.lineno, func, node.func.attr)
            for node in ast.walk(top)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint", "persist")
        ]
    return sorted(found)


def sharing_violations(path: str, source: str) -> list[str]:
    """Checkpoints outside catalog.py, and every persist."""
    return [
        f"{path}:{line}: .{method}( in {func}"
        for line, func, method in sharing_calls(source)
        if method == "persist" or path != f"{PACKAGE}/catalog.py"
    ]


def test_only_catalog_checkpoints_and_nothing_persists():
    """catalog.materialize and catalog.share are the only checkpoints,
    so the checkpoint dir governs every shared frame, and ContextCleaner
    frees each one once it is unreachable; a CacheManager entry
    outlives its frame, so nothing persists."""
    bad = []
    for path in PACKAGE_FILES:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            bad += sharing_violations(path, f.read())
    assert not bad, f"checkpoint outside catalog.share/materialize, or a persist: {bad}"


def test_sharing_scan_flags_a_bare_local_checkpoint():
    source = (
        "def q(spark, df):\n"
        "    return df.groupBy('k').count().localCheckpoint(eager=False)\n"
    )
    assert sharing_violations(f"{PACKAGE}/plans/dedup.py", source) == [
        f"{PACKAGE}/plans/dedup.py:2: .localCheckpoint( in q"
    ]
    assert not sharing_violations(f"{PACKAGE}/catalog.py", source)
    persisting = "def q(spark, df):\n    return df.groupBy('k').count().persist()\n"
    for path in (f"{PACKAGE}/plans/dedup.py", f"{PACKAGE}/catalog.py"):
        assert sharing_violations(path, persisting) == [f"{path}:2: .persist( in q"]


# The session confs every query result depends on (session.READ_PINS).
PIN_KEYS = {
    "spark.sql.session.timeZone",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
}
PIN_HOME = f"{PACKAGE}/session.py"


def is_pin_definition(node: ast.stmt) -> bool:
    return (
        isinstance(node, ast.Assign)
        and [t.id for t in node.targets if isinstance(t, ast.Name)] == ["READ_PINS"]
    )


def pin_violations(path: str, source: str) -> list[str]:
    """A pin key written as code anywhere but the READ_PINS definition
    in session.py (a ``conf.set``, a builder ``config``, a conf dict
    entry), and any use of READ_PINS outside session.py, where
    pin_reads and session_confs apply it. Docstrings and comments may
    name the keys."""
    found = []
    for top in ast.parse(source).body:
        if path == PIN_HOME and is_pin_definition(top):
            continue
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and node.value in PIN_KEYS:
                found.append(f"{path}:{node.lineno}: {node.value}")
            elif path != PIN_HOME and "READ_PINS" in (
                getattr(node, "id", None), getattr(node, "attr", None)
            ):
                found.append(f"{path}:{node.lineno}: READ_PINS")
    return found


def test_read_pins_are_written_once():
    """The timezone, inferTimestampNTZ and nanosAsLong pins are one
    constant, session.READ_PINS, set only by session.pin_reads and the
    boot confs; a second copy would drift from it, as the per-module
    partial sets once did."""
    with open(os.path.join(ROOT, PIN_HOME), encoding="utf-8") as f:
        home = ast.parse(f.read())
    (definition,) = [node for node in home.body if is_pin_definition(node)]
    assert {k.value for k in definition.value.keys} == PIN_KEYS
    bad = []
    for path in PACKAGE_FILES + TOOL_FILES + ["__spark_entry__.py"]:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            bad += pin_violations(path, f.read())
    assert not bad, f"read pins written outside session.READ_PINS: {bad}"


def test_pin_scan_flags_a_second_copy():
    definition = 'READ_PINS = {"spark.sql.session.timeZone": "UTC"}\n'
    assert not pin_violations(PIN_HOME, definition)
    resetting = (
        "def events_stream(spark, sf_dir):\n"
        '    """Sets spark.sql.legacy.parquet.nanosAsLong first."""\n'
        '    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")\n'
    )
    path = f"{PACKAGE}/streaming/pipeline.py"
    assert pin_violations(path, resetting) == [
        f"{path}:3: spark.sql.legacy.parquet.nanosAsLong"
    ]
    boot_copy = definition + 'CONFS = {"spark.sql.session.timeZone": "UTC"}\n'
    assert pin_violations(PIN_HOME, boot_copy) == [f"{PIN_HOME}:2: spark.sql.session.timeZone"]
    looping = (
        "from .session import READ_PINS\n"
        "def table(spark):\n"
        "    for k, v in READ_PINS.items():\n"
        "        spark.conf.set(k, v)\n"
    )
    path = f"{PACKAGE}/catalog.py"
    assert pin_violations(path, looping) == [f"{path}:3: READ_PINS"]
    # The definition itself is a copy anywhere but session.py.
    assert pin_violations(path, definition) == [
        f"{path}:1: READ_PINS", f"{path}:1: spark.sql.session.timeZone"
    ]


# Consecutive code lines that make a copied block.
CLONE_RUN = 6


def line_layout(source: str) -> tuple[set[int], set[int], dict[int, int]]:
    """(docstring line numbers, import line numbers, {line number:
    column of its comment}) of ``source``: the one reading of where
    code, docstrings and comments sit, shared by the clone guard, the
    history guard and count_lines."""
    docstrings, imports = set(), set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            imports.update(range(node.lineno, node.end_lineno + 1))
        elif (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and ast.get_docstring(node, clean=False) is not None
        ):
            docstrings.update(range(node.body[0].lineno, node.body[0].end_lineno + 1))
    comment_at = {
        tok.start[0]: tok.start[1]
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type == tokenize.COMMENT
    }
    return docstrings, imports, comment_at


def code_lines(source: str) -> list[tuple[int, str]]:
    """(line number, whitespace-normalised text) of every code line of
    ``source``: blank lines, comments, docstrings and import statements
    are left out; lines inside other strings (oracle SQL) are code."""
    docstrings, imports, comment_at = line_layout(source)
    found = []
    for n, line in enumerate(source.splitlines(), 1):
        text = " ".join(line[: comment_at.get(n)].split())
        if text and n not in docstrings and n not in imports:
            found.append((n, text))
    return found


def prose_lines(source: str) -> list[tuple[int, str]]:
    """(line number, text) of every docstring line and every comment of
    ``source``, trailing comments included; other strings (oracle SQL)
    are not prose."""
    docstrings, _, comment_at = line_layout(source)
    found = []
    for n, line in enumerate(source.splitlines(), 1):
        if n in docstrings:
            found.append((n, line.strip()))
        elif n in comment_at:
            found.append((n, line[comment_at[n] :]))
    return found


def count_lines(paths: list[str]) -> dict[str, int]:
    """Non-blank lines of the files at ``paths`` (relative to the repo
    root) by kind: "docstring", "comment" (a line holding only a
    comment) and "code" (everything else, imports and oracle SQL
    included).

    python -c "import sys; sys.path.insert(0, 'tests');
    import test_tooling_imports as t; print(t.count_lines(t.PACKAGE_FILES))"
    """
    counts = {"code": 0, "docstring": 0, "comment": 0}
    for path in paths:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            source = f.read()
        docstrings, _, comment_at = line_layout(source)
        for n, line in enumerate(source.splitlines(), 1):
            if not line.strip():
                continue
            if n in docstrings:
                counts["docstring"] += 1
            elif not line[: comment_at.get(n)].strip():
                counts["comment"] += 1
            else:
                counts["code"] += 1
    return counts


def test_count_lines_splits_code_docstrings_and_comments(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(
        '"""Doc\n\nmore."""\nimport os  # trailing\n\n# alone\nx = """SELECT 1\nFROM t"""\n'
    )
    assert count_lines([str(path)]) == {"code": 3, "docstring": 2, "comment": 1}


def repeated_blocks(sources: dict[str, str]) -> list[list[str]]:
    """Groups of copied blocks, each block as "path:first-last" source
    lines: a run of CLONE_RUN code lines found at two places joins
    them, and overlapping runs grow one block."""
    lines = {path: code_lines(src) for path, src in sources.items()}
    where: dict[tuple[str, ...], list[tuple[str, int]]] = {}
    for path, ls in lines.items():
        for i in range(len(ls) - CLONE_RUN + 1):
            where.setdefault(tuple(t for _, t in ls[i : i + CLONE_RUN]), []).append((path, i))
    parent: dict[tuple[str, int], tuple[str, int]] = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for places in where.values():
        if len(places) > 1:
            for other in places[1:]:
                parent[root(other)] = root(places[0])
    for path, i in list(parent):
        for k in range(1, CLONE_RUN):
            if (path, i + k) in parent:
                parent[root((path, i + k))] = root((path, i))
    groups: dict[tuple[str, int], list[tuple[str, int]]] = {}
    for start in parent:
        groups.setdefault(root(start), []).append(start)
    found = []
    for starts in groups.values():
        spans = []
        for path, i in sorted(starts):
            first, last = lines[path][i][0], lines[path][i + CLONE_RUN - 1][0]
            if spans and spans[-1][0] == path and first <= spans[-1][2]:
                spans[-1][2] = max(spans[-1][2], last)
            else:
                spans.append([path, first, last])
        found.append([f"{path}:{first}-{last}" for path, first, last in spans])
    return sorted(found)


def test_no_code_block_is_written_twice():
    """Each operator is written once and called from every query that
    runs it: a copied run of CLONE_RUN code lines (oracle SQL included)
    becomes one helper or one shared SQL text."""
    sources = {}
    for path in PACKAGE_FILES:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            sources[path] = f.read()
    blocks = repeated_blocks(sources)
    assert not blocks, f"code blocks written more than once: {blocks}"


def test_clone_scan_flags_a_copied_block():
    steps = [f"x{i} = f(x{i - 1}, {i})" for i in range(1, CLONE_RUN + 1)]
    original = "def a(x0):\n" + "".join(f"    {s}\n" for s in steps) + "    return x6\n"
    copied = (
        "import os\n"
        "def b(x0):\n"
        '    """A docstring and a comment do not hide the copy."""\n'
        "    if x0:\n"
        "        # re-indented and commented\n"
        + "".join(f"        {s}  # step\n" for s in steps)
    )
    assert repeated_blocks({"a.py": original, "b.py": copied}) == [["a.py:2-7", "b.py:6-11"]]
    # One changed line breaks every run, and text in a docstring or a
    # comment is not code.
    edited = original.replace(steps[2], "x3 = g(x2, 3)")
    quoted = 'def c():\n    """\n' + "".join(f"    {s}\n" for s in steps) + '    """\n'
    commented = "".join(f"# {s}\n" for s in steps)
    assert repeated_blocks({"a.py": original, "e.py": edited}) == []
    assert repeated_blocks({"a.py": original, "c.py": quoted, "d.py": commented}) == []


# Round history and measured numbers in prose: a round tag (r11, the
# _r10 of a result-file name, round 7, round-6), a PR tag, a
# "measured" claim, or a duration on the same line as a scale factor.
HISTORY = re.compile(
    r"(?<![A-Za-z0-9])r\d{1,2}(?!\d)"
    r"|\brounds?[- ]\d"
    r"|\bPR[- ]?\d"
    r"|\bmeasured\b"
    r"|\d\s?(?:µs|ms|s|min)\b.*\bsf\s?\d",
    re.IGNORECASE,
)


def history_lines(sources: dict[str, str]) -> list[str]:
    """"path:line: text" of every docstring or comment line that carries
    round history or a measured number."""
    return [
        f"{path}:{n}: {text}"
        for path, source in sources.items()
        for n, text in prose_lines(source)
        if HISTORY.search(text)
    ]


def test_no_docstring_carries_history():
    """Docstrings and comments state contracts: the reason for a shape
    and the conditions it needs. Round history and measured numbers
    belong in the OPTIMIZATION notes, which a later change can update
    without touching the code."""
    sources = {}
    for path in PACKAGE_FILES:
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            sources[path] = f.read()
    found = history_lines(sources)
    assert not found, "history in package prose:\n" + "\n".join(found)


def test_history_scan_flags_round_tags_and_timings():
    flagged = [
        "# Keyed repair (r11): reuses the hashpartitioning.",
        "# the round-6 probe filled the disk.",
        "# Added in PR 17 for the blob stream.",
        "# consumers (IVF_FLOOR_AB_r10.json).",
        "# this quarters the update work (measured at sf1).",
        "# work: 0.51 → 0.33 s at sf0.1.",
    ]
    kept = [
        "# two independent 48-bit slices, quantized to 6dp",
        "# exact while the sum stays under 2^53 units",
        "# O(log diameter) rounds; the first round reads the labels",
        "# a 50% first-collision at ~2·10⁹ docs",
    ]
    source = "".join(f"{line}\n" for line in flagged + kept)
    assert history_lines({"m.py": source}) == [
        f"m.py:{n}: {line}" for n, line in enumerate(flagged, 1)
    ]
    # Docstrings are scanned like comments; SQL text is not prose.
    documented = 'def q():\n    """Faster since round 7."""\n    return "SELECT r11 FROM t"\n'
    assert history_lines({"q.py": documented}) == ['q.py:2: """Faster since round 7."""']

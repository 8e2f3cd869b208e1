"""Driver-contract consistency: the invariants the correctness harness
relies on but never states — every query has an oracle, the parked
tail is exactly the tail (so the 50-row driver cap lands on the
priority head), and the head holds the full reference-view surface.
Pure-Python (no Spark jobs): queries() only builds closures."""

from __future__ import annotations

import glob
import os
import re

import __spark_entry__ as ent

# this file's own checkout
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_is_oracled_and_vice_versa():
    q, o = ent.queries(), ent.oracle_sql()
    assert set(q) == set(o)


def test_plane_table_is_the_plane_graph():
    """queries() declares each key's session planes once, and each
    plane declares the planes its build reads as ``deps``: every plane
    an entry declares is a registered ``ensure_*`` function, every dep
    is a registered plane, the dep graph is acyclic, every registered
    plane is read by some key or some plane's build, and every ensure
    takes only ``(spark, key=None)`` — a plane's one input is its
    dataset key."""
    import inspect

    from aws_trusted_advisor_explorer_spark.session import SESSION_PLANES

    declared = {e for run in ent.queries().values()
                for e in getattr(run, "planes", ())}
    assert declared <= set(SESSION_PLANES.values())
    deps = {label: e.deps for label, e in SESSION_PLANES.items()}
    assert {d for ds in deps.values() for d in ds} <= set(deps)
    done: set[str] = set()
    while len(done) < len(deps):
        ready = {lb for lb, ds in deps.items()
                 if lb not in done and set(ds) <= done}
        assert ready, f"dep cycle among {sorted(set(deps) - done)}"
        done |= ready
    read = ({lb for lb, e in SESSION_PLANES.items() if e in declared}
            | {d for ds in deps.values() for d in ds})
    unread = sorted(set(deps) - read)
    assert not unread, f"planes no key or plane build reads: {unread}"
    for label, ensure in SESSION_PLANES.items():
        for fn in (ensure, ensure.__wrapped__):
            params = inspect.signature(fn, follow_wrapped=False).parameters
            assert list(params) == ["spark", "key"], (label, list(params))
            assert params["key"].default is None, label


def test_sql_entries_read_every_declared_plane_argument():
    """Every plane argument a ``_sql`` entry declares shows up in the
    SQL its builder renders, so no key ensures a plane it never reads.
    Each plane argument is rendered as a sentinel view name. The
    shingle plane's consumers refuse any name but its own, so its
    argument is rendered as that name and must show up as one of the
    ``__doc_shingle*`` views: the plane's own, its ride-alongs, or the
    prefix plane's views layered on it."""
    import inspect

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    unread = []
    for key, run in ent.queries().items():
        # a _sql entry: _df's run over _sql's lambda that renders build
        env = inspect.getclosurevars(run).nonlocals
        if not getattr(env.get("fn"), "__qualname__", "").startswith("_sql."):
            continue
        build = inspect.getclosurevars(env["fn"]).nonlocals["build"]
        args = env["args"]
        views = {name: dedup.SHINGLE_VIEW if v is dedup.ensure_shingle_view
                 else f"__sentinel_{name}"
                 for name, v in args.items() if callable(v)}
        sql = build(SPARK, **(args | views))
        for name, view in views.items():
            stem = "__doc_shingle" if view == dedup.SHINGLE_VIEW else view
            if not re.search(rf"\b{stem}", sql):
                unread.append(f"{key}: {name}")
    assert not unread, f"declared plane arguments the SQL never reads: {unread}"


def test_driver_threads_inherit_the_job_group():
    """Every package module that starts driver threads (a
    ``ThreadPoolExecutor`` or ``threading.Thread``) wraps their targets
    in ``inheritable_thread_target``. A bare pool thread runs its jobs
    outside the caller's job group, so a traced key would miss them
    and a group cancel would not reach them."""
    pkg = os.path.join(ROOT, "aws_trusted_advisor_explorer_spark")
    starts = re.compile(r"\bThreadPoolExecutor\(|\bThread\(")
    bare = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            src = f.read()
        # at least one wrapped target per pool or thread the module makes
        if len(starts.findall(src)) > src.count("inheritable_thread_target("):
            bare.append(os.path.relpath(path, ROOT))
    assert not bare, f"driver threads without inheritable_thread_target: {bare}"
    with open(os.path.join(pkg, "pipeline.py")) as f:
        assert starts.search(f.read()), "the scan no longer sees the ingest pool"


def test_write_once_protocol_lives_only_in_land_once():
    """The write-once cache protocol (a ``_SUCCESS`` probe, a temp
    write and an ``os.rename`` into place) is written once, in
    ``session.land_once``; every on-disk cache lands through it, so a
    fix to its race handling or its keying cannot miss a hand-written
    copy."""
    import ast

    found = set()
    for module, tree in _modules_anyone_runs():
        if module is None:
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in ast.walk(fn):
                probe = isinstance(n, ast.Constant) and n.value == "_SUCCESS"
                rename = (isinstance(n, ast.Attribute) and n.attr == "rename"
                          and getattr(n.value, "id", None) == "os")
                if probe or rename:
                    found.add(f"{module}.{fn.name}")
    assert found == {"aws_trusted_advisor_explorer_spark.session.land_once"}, (
        f"write-once protocol outside session.land_once: {sorted(found)}")


def test_two_threads_build_unrelated_planes_at_once():
    """The running plane build is tracked per driver thread: two threads
    that each ensure an unrelated plane on their own session, with both
    builds running at once (each waits for the other inside its build),
    both get their values, and both builds are timed as rows."""
    import threading
    import time
    import types

    from aws_trusted_advisor_explorer_spark import session as sess

    both_running = threading.Barrier(2, timeout=5)

    def build(s, key):
        both_running.wait()
        time.sleep(0.3)
        return s.name

    labels = ("probe_a", "probe_b")
    got, errors = {}, []

    def run(ensure, label):
        try:
            got[label] = ensure(types.SimpleNamespace(name=label))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    try:
        ensures = {lb: sess.session_plane(lb)(build) for lb in labels}
        sess.drain_plane_timings()
        threads = [threading.Thread(target=run, args=(ensures[lb], lb))
                   for lb in labels]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        rows = sess.drain_plane_timings()
    finally:
        for lb in labels:
            sess.SESSION_PLANES.pop(lb, None)
    assert not errors, errors
    assert got == {lb: lb for lb in labels}
    assert sorted(lb for lb, _ in rows) == list(labels)


def test_threads_missing_one_plane_build_it_once():
    """Eight threads (more than the cores here) that miss the same
    plane of one session at once (all start their ensure together, and
    the build takes 0.3 s) get one build: the others wait for it and
    take its value, and one timing row is recorded."""
    import sys
    import threading
    import time
    import types

    from aws_trusted_advisor_explorer_spark import session as sess

    builds = []

    def build(s, key):
        builds.append(key)
        time.sleep(0.3)
        return object()

    n = 8
    session = types.SimpleNamespace()
    start = threading.Barrier(n, timeout=5)
    got, errors = [], []

    def run(ensure):
        try:
            start.wait()
            got.append(ensure(session))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    interval = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-6)
        ensure = sess.session_plane("probe_same")(build)
        sess.drain_plane_timings()
        threads = [threading.Thread(target=run, args=(ensure,))
                   for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        rows = sess.drain_plane_timings()
    finally:
        sys.setswitchinterval(interval)
        sess.SESSION_PLANES.pop("probe_same", None)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(builds) == 1, builds
    assert len(got) == n and all(v is got[0] for v in got)
    assert [lb for lb, _ in rows] == ["probe_same"]


def test_entry_imports_package_from_its_own_checkout(tmp_path):
    """``__spark_entry__`` imported from a copy of the checkout resolves
    the package inside that copy, ahead of its fixed fallback path."""
    import shutil
    import subprocess
    import sys

    pkg = "aws_trusted_advisor_explorer_spark"
    copy = tmp_path / "checkout"
    shutil.copytree(os.path.join(ROOT, pkg), copy / pkg,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy2(os.path.join(ROOT, "__spark_entry__.py"), copy)
    out = subprocess.run(
        [sys.executable, "-c",
         f"import __spark_entry__, {pkg} as p; print(p.__file__)"],
        cwd=copy, stdout=subprocess.PIPE, text=True, check=True)
    resolved = os.path.realpath(out.stdout.strip())
    assert resolved.startswith(os.path.realpath(copy) + os.sep), resolved


def test_parked_tail_is_exactly_the_tail():
    q = ent.queries()
    parked = ent._PARKED_TAIL
    assert len(set(parked)) == len(parked), "duplicate parked key"
    assert set(parked) <= set(q), "parked key not in queries()"
    assert list(q)[-len(parked):] == list(parked)


def test_priority_head_fits_driver_cap_and_holds_reference_views():
    q = ent.queries()
    head = list(q)[:50]
    assert len(q) - len(ent._PARKED_TAIL) <= 50, (
        "unparked keys exceed the measured 50-row driver correctness cap; "
        "park the most redundant new key (with a family comment)")
    for view_key in ent._VIEW_KEYS.values():
        assert view_key in head, f"{view_key} fell out of the priority head"
    for audited in ("knn_ivf", "knn_ivf_multiprobe", "dedup_clusters"):
        assert audited in head
    # rotation rule, generically: every key with NO driver-green
    # history must sit in the head for its first driver rows (the
    # verification loop closes the same round it opens). The r12-era
    # form of this test pinned the four keys ADDED in r12 by name;
    # they got their first driver-green rows in CORRECTNESS_r12.json,
    # so the r13 regeneration legitimately rotates them out in favor
    # of the stalest green keys.
    import glob
    import json
    import os

    seen: set[str] = set()
    for p in glob.glob(os.path.join(os.path.dirname(__file__), "..",
                                    "CORRECTNESS_r*.json")):
        with open(p) as f:
            rows = json.load(f)
        rows = rows.get("rows", rows)
        for k, v in rows.items():
            if isinstance(v, dict) and v.get("rows_match") \
                    and v.get("schema_match") and v.get("hash_match"):
                seen.add(k)
    never_checked = [k for k in q if k not in seen]
    for k in never_checked:
        assert k in head, f"never-driver-checked key {k} parked"


def test_parked_tail_matches_head_cap_exactly():
    """r11 verdict task 5: the tail is GENERATED from the actual
    window (scripts/gen_parked_tail.py), so it must equal
    queries()[50:] exactly — every driver correctness slot is used
    (head == 50, not <= 50) and the regenerated bookkeeping can never
    drift from the observable contract again."""
    q = list(ent.queries())
    assert q[50:] == list(ent._PARKED_TAIL)
    assert len(q) - len(ent._PARKED_TAIL) == 50


def test_parked_tail_incap_citations_are_actually_incap():
    """Every parked-tail comment that justifies a parked key by naming
    an 'in-cap' family representative must name a key ACTUALLY inside
    the 50-row head — rotations kept silently invalidating these
    (r7 review found a circular pair and a dozen stale cites), and
    test_cited_names_resolve only checks existence, not cap status."""
    src = open(os.path.join(ROOT, "__spark_entry__.py"),
               encoding="utf-8").read()
    region = src[src.index("_PARKED_TAIL = ("):]
    head = set(list(ent.queries())[:50])
    keys = set(ent.queries())
    cited = set()
    # "in-cap X", "in-cap: X", "in-cap rep is X", "in-cap via X",
    # spanning comment-line breaks (strip the comment prefix first)
    prose = re.sub(r"\n\s*#\s*", " ", region)
    for m in re.finditer(
            r"in-cap(?: row| rep| reps| analog| representative)?"
            r"(?: is| are|:| via)?\s+([a-z0-9_]+(?:\s*\+\s*[a-z0-9_]+)*)",
            prose):
        for tok in re.split(r"\s*\+\s*", m.group(1)):
            if tok in keys:
                cited.add(tok)
    stale = sorted(k for k in cited if k not in head)
    assert not stale, f"parked comments cite non-in-cap reps: {stale}"


def _comment_and_docstring_text(path):
    """(prose, code) split of a python file: prose is #-comments plus
    docstrings, code is everything else (incl. SQL string literals)."""
    import ast
    import io
    import tokenize

    src = open(path, encoding="utf-8").read()
    prose_spans = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            prose_spans.append(tok.string)
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return " ".join(prose_spans), src
    docstrings = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            d = ast.get_docstring(node, clean=False)
            if d:
                docstrings.append(d)
    prose = " ".join(prose_spans) + "\n" + "\n".join(docstrings)
    code = src
    for d in docstrings:
        code = code.replace(d, " ")
    for c in prose_spans:
        code = code.replace(c, " ")
    return prose, code


def test_cited_names_resolve():
    """Reference-integrity guard (VERDICT r5 #1): every queries()-key-
    shaped token and every ``test_*`` name cited in a source comment or
    docstring must name something that exists — a real queries() key,
    or a symbol/string that occurs in actual code somewhere in the
    repo. A claim of evidence that exists only in the comment citing
    it (the r4 phantom MinHash test, the r5 phantom
    events_disorder_audit_signal) fails here."""
    keys = set(ent.queries())
    prefixes = sorted({k.split("_")[0] for k in keys})
    key_pat = re.compile(r"\b(?:%s)_[a-z0-9_]+\b" % "|".join(prefixes))
    test_pat = re.compile(r"\btest_[a-zA-Z0-9_]+\b")

    files = _source_files()
    test_files = glob.glob(os.path.join(ROOT, "tests", "*.py"))

    cited = set()
    all_code = []
    for p in files:
        prose, code = _comment_and_docstring_text(p)
        cited |= set(key_pat.findall(prose)) | set(test_pat.findall(prose))
        all_code.append(code)
    for p in test_files:
        _, code = _comment_and_docstring_text(p)
        all_code.append(code)
        all_code.append(p)  # file path: "tests/test_views.py" cites resolve
    code_blob = "\n".join(all_code)

    unresolved = sorted(
        t for t in cited
        if t not in keys
        and not re.search(r"\b%s\b" % re.escape(t), code_blob))
    assert not unresolved, (
        "phantom references (cited in comments/docstrings but defined "
        f"nowhere in code, tests, or queries()): {unresolved}")


def _source_files():
    """The package, entry, bench and script sources whose prose the
    reference guards read."""
    return (glob.glob(os.path.join(ROOT, "aws_trusted_advisor_explorer_spark",
                                   "**", "*.py"), recursive=True)
            + [os.path.join(ROOT, "__spark_entry__.py"),
               os.path.join(ROOT, "bench.py")]
            + glob.glob(os.path.join(ROOT, "scripts", "*.py")))


# a repo-relative file path cited in prose; ``{sf}``/``<sf>`` mark a
# templated name of a generated file
_CITED_PATH = re.compile(
    r"\b(?:scripts|tests|bench_results|streaming)/[\w.{}<>/-]*[\w}>]")


def test_cited_file_paths_exist():
    """Every ``scripts/``, ``tests/``, ``bench_results/`` or
    ``streaming/`` path cited in a comment or docstring of any python
    file names a file that exists (``streaming/`` relative to the
    package, the rest relative to the checkout), so no file keeps
    citing one that was deleted. A templated name (``{sf}``, ``<sf>``)
    names generated output: only its directory must exist, and a
    ``dir/module.name`` citation resolves to ``dir/module.py``."""
    pkg = os.path.join(ROOT, "aws_trusted_advisor_explorer_spark")
    files = _source_files() + glob.glob(os.path.join(ROOT, "tests", "*.py"))
    missing = []
    for p in files:
        prose, _ = _comment_and_docstring_text(p)
        for cited in set(_CITED_PATH.findall(prose)):
            base = pkg if cited.startswith("streaming/") else ROOT
            if re.search(r"[{<]", cited):
                cited = os.path.dirname(re.split(r"[{<]", cited)[0])
            as_module = re.sub(r"\.\w+$", ".py", cited)
            if not any(os.path.exists(os.path.join(base, c))
                       for c in (cited, as_module)):
                missing.append(f"{os.path.relpath(p, ROOT)}: {cited}")
    assert not missing, f"cited files that do not exist: {sorted(missing)}"


def _literals_in(path):
    import ast

    src = open(path, encoding="utf-8").read()
    return [n.value for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Constant) and isinstance(n.value, str)]


def test_no_hard_coded_checkout_path():
    """Tests and scripts find the checkout from their own ``__file__``.
    No string literal in them may be this checkout's absolute path, an
    absolute path into any checkout of this repo (one that names a
    top-level entry of it, such as ``/x/repo/__spark_entry__.py``), or
    a directory put on ``sys.path`` by literal: run from a clone, such
    a path tests another checkout's code."""
    top = {e for e in os.listdir(ROOT)
           if not e.startswith(".") and e != "__pycache__"}
    assert "__spark_entry__.py" in top
    bad = []
    for p in (glob.glob(os.path.join(ROOT, "tests", "*.py"))
              + glob.glob(os.path.join(ROOT, "scripts", "*.py"))):
        src = open(p, encoding="utf-8").read()
        rel = os.path.relpath(p, ROOT)
        if re.search(r"sys\.path\.insert\(\s*0\s*,\s*[\"']", src):
            bad.append(f"{rel}: literal sys.path entry")
        for lit in _literals_in(p):
            if not lit.startswith("/"):
                continue
            if (lit == ROOT or lit.startswith(ROOT + "/")
                    or any(c in top for c in lit.split("/"))):
                bad.append(f"{rel}: {lit}")
    assert not bad, f"hard-coded checkout paths: {bad}"


def test_verify_entry_output_keyed_on_exact_scale():
    """scripts/verify_entry.py writes each committed artifact only from
    its own scale factor; a run at any other scale (the sf0.001 smoke
    drive) writes an untracked file instead of overwriting one."""
    import fnmatch
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "verify_entry", os.path.join(ROOT, "scripts", "verify_entry.py"))
    ve = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ve)

    def rel(sf_dir, ansi=False):
        return os.path.relpath(ve.output_path(sf_dir, ansi), ROOT)

    assert rel("/data/sf0.01") == "CORRECTNESS_FULL.json"
    assert rel("/data/sf0.01/") == "CORRECTNESS_FULL.json"
    assert rel("/data/sf0.1") == "CORRECTNESS_FULL_SF0.1.json"
    assert rel("/data/sf0.01", ansi=True) == "ANSI_PARITY.json"
    committed = {"CORRECTNESS_FULL.json", "CORRECTNESS_FULL_SF0.1.json",
                 "ANSI_PARITY.json"}
    with open(os.path.join(ROOT, ".gitignore"), encoding="utf-8") as f:
        ignored = [ln.strip() for ln in f
                   if ln.strip() and not ln.startswith("#")]
    for sf_dir, ansi in (("/data/sf0.001", False), ("/data/sf1", False),
                         ("/data/sf0.1", True), ("/data/xsf0.1", False)):
        out = rel(sf_dir, ansi)
        assert out not in committed, (sf_dir, ansi, out)
        assert any(fnmatch.fnmatch(out, pat) for pat in ignored), (
            f"{out} would be tracked by git")


# Top-level package names that no entry point reaches, each with the
# reason it stays. A new package name needs a non-test caller or a
# line here.
KEEP = {
    # test references: the plain forms live code is checked against
    "_shingle_hash_kernel": "Arrow shingle kernel the fused gram-fold "
                            "kernel's streams are pinned against",
    "make_gram_hv_kernel": "per-width gram kernel the fused gram-fold "
                           "kernel's streams are pinned against",
    "dedup_embedding_cosine_label_blocked": "label-blocked oracle the "
                                            "cluster-blocked cosine "
                                            "dedup is measured against",
    "_bpe_train_rounds_jobs": "job-loop BPE trainer the one-job kernel "
                              "trainer must match",
    # test hooks and fakes
    "drop_planes": "tests rebuild a cached session plane",
    "FixtureTransport": "offline tag-API transport for the fetch tests",
    "ASG_BACKED": "keys whose plane-backed SQL a test compares with "
                  "the inline form",
    # reference parity: the reference's control-plane sources, masks
    # and constants, checked against its behaviour
    "CHECK_CATALOG_SCHEMA": "reference check-catalog source (S2)",
    "filter_supported_checks": "reference check-catalog filter (S2)",
    "ACCOUNT_SCHEMA": "reference Organizations source (S3)",
    "active_accounts": "reference Organizations filter (S3)",
    "accounts_from_csv": "reference accounts CSV override (S4)",
    "regions_df": "reference region dimension (S5)",
    "refresh_wait_seconds": "reference check-refresh wait",
    "CATEGORY": "reference check category",
}


def _modules_anyone_runs():
    """(dotted module name, parsed module) of every package module, then
    (None, parsed module) of the entry, bench, perfbench and script
    modules."""
    import ast

    pkg = glob.glob(os.path.join(ROOT, "aws_trusted_advisor_explorer_spark",
                                 "**", "*.py"), recursive=True)
    rest = ([os.path.join(ROOT, "__spark_entry__.py"),
             os.path.join(ROOT, "bench.py")]
            + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
            + glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    for p in pkg + rest:
        module = (os.path.splitext(os.path.relpath(p, ROOT))[0]
                  .replace(os.sep, ".") if p in pkg else None)
        with open(p, encoding="utf-8") as f:
            yield module, ast.parse(f.read())


def _package_graph():
    """(defs, roots) of the package: ``defs`` maps each top-level name a
    package module defines to its defining nodes; ``roots`` holds the
    code anyone runs — the entry, bench, perfbench and script modules
    whole, each package module's import-time statements and decorators,
    and a reference to every ``@session_plane`` build. A package
    module's ``if __name__ == "__main__"`` block is defined under the
    module's dotted name: it runs when reached code names the module
    (``python -m``, or a config value such as get_spark's
    ``spark.python.daemon.module``)."""
    import ast

    defs: dict[str, list] = {}
    roots: list = []
    for module, tree in _modules_anyone_runs():
        if module is None:
            roots.append(tree)
            continue
        for st in tree.body:
            if (isinstance(st, ast.If) and isinstance(st.test, ast.Compare)
                    and getattr(st.test.left, "id", None) == "__name__"):
                defs.setdefault(module, []).append(st)
                continue
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs.setdefault(st.name, []).append(st)
                roots.extend(st.decorator_list)
                if "session_plane" in _mentioned(st.decorator_list):
                    roots.append(ast.Name(id=st.name))
            elif (isinstance(st, (ast.Assign, ast.AnnAssign))
                  and all(isinstance(t, (ast.Name, ast.Tuple))
                          for t in _targets(st))):
                for t in _targets(st):
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(st)
            elif not (isinstance(st, ast.Expr)
                      and isinstance(st.value, ast.Constant)):
                roots.append(st)
    return defs, roots


def _targets(assign):
    return assign.targets if hasattr(assign, "targets") else [assign.target]


def _mentioned(nodes):
    """Every name, attribute, imported name and identifier-shaped or
    dotted-identifier string literal in ``nodes`` (a string covers
    getattr-style dispatch and a module named by its dotted name)."""
    import ast

    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and all(p.isidentifier() for p in n.value.split("."))):
                out.add(n.value)
    return out


def _reached(defs, roots, extra=()):
    seen: set[str] = set()
    todo = _mentioned(roots) | set(extra)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= _mentioned(defs.get(name, ())) - seen
    return seen


def test_every_package_name_has_a_caller():
    """Every top-level package name is reached from the code anyone
    runs (see ``_package_graph``) or is listed in KEEP with its reason,
    so code only tests call cannot regrow unnoticed. A name is reached
    when reached code mentions it; matching by name alone errs toward
    reaching. KEEP names count as roots, and each must still be defined
    and be unreached without its entry, so the table cannot go stale."""
    defs, roots = _package_graph()
    names = {n for n in defs if not (n.startswith("__") and n.endswith("__"))}
    unreached = sorted(names - _reached(defs, roots, KEEP))
    assert not unreached, (
        f"package names no entry point reaches (delete them, or add a "
        f"KEEP reason): {unreached}")
    live = _reached(defs, roots)
    stale = sorted(n for n in KEEP if n not in defs or n in live)
    assert not stale, f"KEEP entries defined nowhere or reached: {stale}"


# Defaulted package parameters that no non-test call sets, each with
# the reason it stays: a test reference, a test fake or a deployment
# setting. A new defaulted parameter needs a caller that sets it or a
# line here.
KEEP_PARAMS = {
    # test references: the forms live code is checked against
    ("make_gram_hv_kernel", "with_pos"): "hv-only gram stream the fused "
                                         "kernel's stream is pinned to",
    ("dedup_prefix_join", "position_filter"): "unfiltered prefix join the "
                                              "position filter's pruning "
                                              "is measured against",
    ("semdedup_prune_report", "asg"): "plane-backed SQL report the DF twin "
                                      "is pinned to",
    ("text_bpe_merge_train", "base"): "both engines train on a planted "
                                      "dictionary",
    ("docs_column_profile", "table"): "profile of a planted-violation table",
    ("docs_expectations_report", "table"): "expectations over a "
                                           "planted-violation table",
    # test fakes
    ("FixtureTransport", "page_size"): "pagination of the offline transport",
    ("FixtureTransport", "fail_first"): "transient failures for the retry "
                                        "path",
    # deployment settings
    ("fetch_tags", "max_retries"): "tag-API retry policy",
    ("fetch_tags", "backoff_s"): "tag-API retry backoff",
    ("publish_views", "with_tags"): "a deployment without the tag ingest "
                                    "publishes views without the tags join",
    ("regions_df", "regions"): "the deployment's region list (S5)",
    ("land_raw_table", "fmt"): "lake file format: ORC, or CSV as the "
                               "reference's interchange format",
    ("write_raw_table", "mode"): "append for month-over-month accumulation",
    ("read_raw_table", "merge_schema"): "the crawler's schema-change policy "
                                        "for an evolving table",
}


def _set_params():
    """callee name -> (highest positional count, keyword names) over
    every call in the code anyone runs, matched by name. A ``_df``,
    ``_sql`` or ``functools.partial`` call also passes its keywords to
    its first argument (and ``_df(..., keyed=True)`` the dataset key
    as its second position). ``*args`` sets every position and
    ``**kwargs`` every keyword."""
    import ast

    def name(f):
        return getattr(f, "id", None) or getattr(f, "attr", None)

    every = 10 ** 6
    seen: dict[str, tuple[int, set]] = {}

    def mark(callee, npos, kws):
        pos, names = seen.get(callee, (0, set()))
        seen[callee] = (max(pos, npos), names | kws)

    for _, tree in _modules_anyone_runs():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            star = any(isinstance(a, ast.Starred) for a in n.args)
            kws = {k.arg if k.arg else "**" for k in n.keywords}
            mark(name(n.func), every if star else len(n.args), kws)
            if name(n.func) in ("_df", "_sql", "partial") and n.args:
                keyed = any(k.arg == "keyed" and getattr(k.value, "value", 0)
                            for k in n.keywords)
                mark(name(n.args[0]), 2 if keyed else 1, kws - {"keyed"})
    return seen


def _never_set_params():
    """(function, parameter) of every defaulted parameter of a package
    function or method that no call in the code anyone runs sets. A
    ``@session_plane`` build's ``key`` is set by its ensure wrapper."""
    import ast

    seen = _set_params()
    out = set()
    for module, tree in _modules_anyone_runs():
        if module is None:
            continue
        for st in tree.body:
            fns = [(st, st.name, 0)] if isinstance(st, ast.FunctionDef) else [
                (f, st.name if f.name == "__init__" else f.name, 1)
                for f in getattr(st, "body", ())
                if isinstance(st, ast.ClassDef)
                and isinstance(f, ast.FunctionDef)]
            for fn, callee, skip in fns:
                if "session_plane" in _mentioned(fn.decorator_list):
                    continue
                a = fn.args
                pos = [x.arg for x in a.posonlyargs + a.args][skip:]
                dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
                dflt += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                         if d is not None]
                npos, kws = seen.get(callee, (0, set()))
                for p in dflt:
                    if "**" in kws or p in kws or (
                            p in pos and pos.index(p) < npos):
                        continue
                    out.add((callee, p))
    return out


def test_every_defaulted_parameter_is_set_somewhere():
    """Every defaulted parameter of a package function is set, by name
    or by position, at some call in the code anyone runs (see
    ``_set_params``), or is listed in KEEP_PARAMS with its reason, so
    a default that guards a branch no entry point takes cannot regrow
    unnoticed. Each KEEP_PARAMS entry must still be a never-set
    defaulted parameter, so the table cannot go stale."""
    never = _never_set_params()
    unset = sorted(never - set(KEEP_PARAMS))
    assert not unset, (
        f"defaulted parameters no entry point sets (delete them with the "
        f"branch they guard, or add a KEEP_PARAMS reason): {unset}")
    stale = sorted(set(KEEP_PARAMS) - never)
    assert not stale, f"KEEP_PARAMS entries set by a caller or gone: {stale}"

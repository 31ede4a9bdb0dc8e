"""Every package definition has a caller inside the package.

An AST scan of the package source (no Spark). A top-level undecorated
``def`` or ``class`` must be referenced by package code outside its
own body: a ``Name``, an ``Attribute`` or an import alias, never a
string or a comment. ``@query`` functions register through their
decorator and are exempt with every other decorated definition.

A definition that only tests, the bench or an example call is dead
weight the package still carries, so it fails here unless
``PUBLIC_SURFACE`` names it with the reason it stays. An entry that
gains a caller or loses its definition fails too, so the allowlist
cannot go stale. Module-level imports a module never uses fail as
well (no linter runs in the default tier).
"""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "python_stream_processing_framework_spark"

_PARITY = "reference parity: COVERAGE.md maps it to a PSPF feature"
_FACADE = "facade companion: user code hands it to a Stream facade or reads the facade's output with it"
_PENDING = "pending: no caller yet; the next candidate for deletion"

#: "module.name" (module path relative to the package) -> why the
#: definition stays without an in-package caller.
PUBLIC_SURFACE = {
    "telemetry.attach": _PARITY,
    "telemetry.W3CTracer": _PARITY,
    "telemetry.configure_json_logging": _PARITY,
    "schema.SchemaRegistry": _PARITY,
    "schema.evolve": _PARITY,
    "api.StateApiServer": _PARITY,
    "streaming.dlq.replay_dead_letters": _PARITY,
    "operators.joins.windowed_join_stream": _PARITY,
    "sources.http.HttpSink": _PARITY,
    "sources.valkey.dlq_stream": _PARITY,
    "sources.valkey.retry_tracker_key": _PARITY,
    "sources.valkey.dlq_entry": _PARITY,
    "sources.valkey.read_dump": _PARITY,
    "sources.resp.MiniValkeyServer": _PARITY + " (the embedded broker for the live tier)",
    "operators.ann_index.build_ivf_index": _FACADE,
    "operators.ann_index.ivf_index_topk": _FACADE,
    "operators.funnel.funnel_fold": _FACADE,
    "operators.funnel.retention_fold": _FACADE,
    "operators.funnel.funnel_stats_from_states": _FACADE,
    "operators.funnel.retention_from_states": _FACADE,
    "operators.sketch.cm_fold": _FACADE,
    "operators.sketch.cm_state_estimate": _FACADE,
    "streaming.state.session_fold": _FACADE,
    "streaming.state.windowed_fold": _FACADE,
    "operators.dedup.bloom_decontaminate": "batch reference the decontaminate facade's tests compare against",
    "operators.text.normalize_text": "batch Unicode-folding pass users run before hashing and dedup",
    "operators.multimodal.decode_images": "keeps the baseline's image-decode multimodal capability",
    "operators.packing.packing_stats": "one-row audit of a pack_sequences result",
    "operators.text.compression_ratio": _PENDING,
    "operators.text.filter_url_blocklist": _PENDING,
    "operators.zorder.zorder_write": _PENDING,
    "operators.sketch.cm_error_bound": _PENDING,
    "operators.similarity.cosine_pairs": _PENDING,
    "operators.joins.salted_join": _PENDING,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modules() -> dict[str, ast.Module]:
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = ast.parse(path.read_text(), str(path))
    return out


def _references(tree: ast.AST) -> Iterator[tuple[str, int]]:
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node.lineno


def _definitions(modules: dict[str, ast.Module]) -> dict[str, tuple[str, ast.AST]]:
    return {
        f"{mod}.{node.name}": (mod, node)
        for mod, tree in modules.items()
        for node in tree.body
        if isinstance(node, _DEFS) and not node.decorator_list
    }


def _uncalled(modules: dict[str, ast.Module]) -> set[str]:
    refs: dict[str, list[tuple[str, int]]] = {}
    for mod, tree in modules.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((mod, line))
    return {
        key
        for key, (mod, node) in _definitions(modules).items()
        if not any(
            m != mod or not node.lineno <= line <= node.end_lineno
            for m, line in refs.get(node.name, ())
        )
    }


def _module_imports(tree: ast.Module) -> Iterator[ast.Import | ast.ImportFrom]:
    """Import statements outside every function and class body."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif not isinstance(node, _DEFS):
            stack.extend(ast.iter_child_nodes(node))


def _string_annotation_names(tree: ast.Module) -> set[str]:
    """Names inside quoted annotations (``router: "Router"``): the use
    an ``if TYPE_CHECKING:`` import exists for."""
    notes = []
    for node in ast.walk(tree):
        if isinstance(node, ast.arg):
            notes.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            notes.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            notes.append(node.annotation)
    return {
        n.id
        for note in notes
        if isinstance(note, ast.Constant) and isinstance(note.value, str)
        for n in ast.walk(ast.parse(note.value, mode="eval"))
        if isinstance(n, ast.Name)
    }


def test_every_definition_has_an_in_package_caller():
    uncalled = _uncalled(_modules()) - PUBLIC_SURFACE.keys()
    assert not uncalled, (
        f"no package code calls {sorted(uncalled)}: delete them, or add "
        "each to PUBLIC_SURFACE with the reason it stays"
    )


def test_public_surface_is_current():
    modules = _modules()
    missing = PUBLIC_SURFACE.keys() - _definitions(modules).keys()
    called = PUBLIC_SURFACE.keys() - _uncalled(modules) - missing
    assert not missing, f"PUBLIC_SURFACE names undefined {sorted(missing)}"
    assert not called, f"PUBLIC_SURFACE names called {sorted(called)}"
    assert all(reason.strip() for reason in PUBLIC_SURFACE.values())


def test_module_level_imports_are_used():
    unused = []
    for mod, tree in _modules().items():
        if (PKG / mod.replace(".", "/")).is_dir():
            continue  # a package __init__ imports to re-export
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= _string_annotation_names(tree)
        for node in _module_imports(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    unused.append(f"{mod}: {bound}")
    assert not unused, f"unused module-level imports: {unused}"

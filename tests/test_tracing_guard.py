"""The traced benchmark run (perfbench/tracing.py) measures layers by
wrapping program functions by name and by capturing the kernel that
``link_and_extract`` hands to ``mapInPandas``. A refactor that renames
or moves one of those would silently break the traced run; these
tests pin every name it patches and drive its kernel capture."""

import ast
import importlib
import inspect

from perfbench import tracing

from grisp_spark.kg import datagen, oracle


def _patched_pairs():
    """Every (module path, owner, attr) that tracing.py patches: the
    ``patched(owner, "attr", ...)`` calls, with ``owner`` resolved
    through the function-local ``from X import name`` that binds it,
    plus the KernelSpans.SPANS table its loop patches."""
    tree = ast.parse(inspect.getsource(tracing))
    pairs = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        bound = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    bound[alias.asname or alias.name] = (node.module, alias.name)
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "patched"
                and isinstance(node.args[0], ast.Name)
                and isinstance(node.args[1], ast.Constant)
            ):
                pairs.add((*bound[node.args[0].id], node.args[1].value))
            if isinstance(node, ast.Subscript) and getattr(node.value, "id", None) == "mods":
                for mod, attr, _name in tracing.KernelSpans.SPANS:
                    pairs.add((*bound[mod], attr))
    return pairs


def test_every_patched_name_exists_and_is_callable():
    pairs = _patched_pairs()
    # the scan itself must see the layers the traced run measures
    assert {
        ("grisp_spark.kg", "linking", "_pick_all"),
        ("grisp_spark.kg", "linking", "build_kb_broadcasts"),
        ("grisp_spark.kg", "spec", "tokenize"),
        ("grisp_spark.kg", "spec", "word_vec"),
        ("grisp_spark.kg.pipeline", "KGPipeline", "_stage"),
    } <= pairs, pairs
    for module, owner, attr in pairs:
        mod = importlib.import_module(module)
        obj = getattr(mod, owner, None)
        if obj is None:  # ``from package import submodule``
            obj = importlib.import_module(f"{module}.{owner}")
        assert callable(getattr(obj, attr, None)), f"{module}.{owner}.{attr}"


class _Broadcast:
    def __init__(self, value, bid):
        self.value = value
        self._jbroadcast = type("J", (), {"id": lambda _self: bid})()


def test_kernel_capture_drives_every_span():
    """tracing.kernel_metrics captures link_and_extract's kernel
    through its select → repartition → sortWithinPartitions →
    mapInPandas chain and times the patched layers; every count must
    come back non-zero on a small corpus."""
    kb = datagen.generate_kb(5)
    conv, _gold = datagen.generate_conversations(5, 20, kb)
    broadcasts = (
        _Broadcast(oracle.build_gazetteer(kb), 1),
        _Broadcast(oracle.entity_vectors(kb), 2),
        _Broadcast(oracle.canonical_map(kb), 3),
    )
    m = tracing.kernel_metrics(broadcasts, tracing.kernel_slice(conv, 200), passes=1)
    for key in ("kernel.mentions", "kernel.linked", "kernel.turns_per_s"):
        assert m[key] > 0, (key, m)
    assert 0 < m["kernel.link_ratio"] <= 1


def test_only_linking_calls_the_kernel_steps():
    """One linking entry point: outside kg/linking.py no module of the
    package names a kernel step (every kernel goes through
    linking._link_tokens), so the steps the traced run patches stay
    the only route from tokens to picked spans."""
    import pathlib

    import grisp_spark

    steps = {"_intern_tokens", "_detect_all", "_pick_all", "_pick_batch", "_link_rows"}
    root = pathlib.Path(grisp_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "kg" / "linking.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                getattr(node, "id", None)
                or getattr(node, "attr", None)
                or (node.name if isinstance(node, ast.alias) else None)
            )
            if name in steps:
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, hits

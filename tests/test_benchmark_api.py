"""The package surface the benchmark harness (perfbench/) uses, checked
without Spark: every name it imports from ``sqlite_otel_spark`` or
``__spark_entry__`` resolves (attributes read off imported modules
included), and every ``PipelineConfig(...)`` keyword and ``cfg.<attr>``
read it makes is a config field. The untraced tier-1 suite never runs
perfbench's traced path, so a deletion that breaks it shows up here."""

import ast
import dataclasses
import importlib
import os
import types

import pytest

from sqlite_otel_spark.config import PipelineConfig

BENCH_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")
FILES = sorted(f for f in os.listdir(BENCH_DIR) if f.endswith(".py"))
FIELDS = {f.name for f in dataclasses.fields(PipelineConfig)}


def _tree(name: str) -> ast.Module:
    with open(os.path.join(BENCH_DIR, name)) as f:
        return ast.parse(f.read(), name)


def _is_package(module: str) -> bool:
    return module == "__spark_entry__" or module.split(".")[0] == "sqlite_otel_spark"


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")  # a submodule


def test_benchmark_files_found():
    assert {"layers.py", "run.py", "workloads.py"} <= set(FILES)


@pytest.mark.parametrize("name", FILES)
def test_package_imports_resolve(name):
    bound: dict[str, object] = {}
    missing = []
    for node in ast.walk(_tree(name)):
        if isinstance(node, ast.ImportFrom) and node.module and _is_package(node.module):
            for a in node.names:
                try:
                    bound[a.asname or a.name] = _resolve(node.module, a.name)
                except ImportError:
                    missing.append(f"{node.module}.{a.name}")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_package(a.name):
                    importlib.import_module(a.name)
    for node in ast.walk(_tree(name)):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and isinstance(bound.get(node.value.id), types.ModuleType)
                and not hasattr(bound[node.value.id], node.attr)):
            missing.append(f"{node.value.id}.{node.attr}")
    assert not missing, f"{name} uses names the package no longer has: {missing}"


@pytest.mark.parametrize("name", FILES)
def test_config_fields_exist(name):
    used = set()
    for node in ast.walk(_tree(name)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == "PipelineConfig"):
            used |= {k.arg for k in node.keywords}
        elif (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id == "cfg"):
            used.add(node.attr)
    assert used <= FIELDS, f"{name} reads PipelineConfig fields that are gone: {used - FIELDS}"

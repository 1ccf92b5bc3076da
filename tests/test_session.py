"""Session configuration: the factory's generated-class cache holds a
repeated workload's classes, so repeat passes compile nothing; and the
engine reads only its documented environment variables."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

import citibike_analysis_spark


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    metric = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    return metric.getCount()


def test_repeat_plans_hit_the_codegen_cache(spark):
    # 150 distinct plans compile ~300 classes per round: more than
    # Spark's default 100-entry LRU holds, so at the default every class
    # was evicted before the second round reached it again
    def one_round():
        for i in range(150):
            (
                spark.range(100)
                .filter(F.col("id") > i)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0


#: The whole environment surface of the engine package: the core count
#: for the default master, the fixture-only parity guards, and Spark's
#: driver heap. Anything else belongs in code, not in a switch.
ENGINE_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_PARITY_GUARDS", "SPARK_DRIVER_MEMORY"}

_ENV_READS = {"os.environ.get", "environ.get", "os.getenv", "getenv"}


def _env_names_read(tree: ast.AST) -> set[str]:
    """Names the module reads from the environment; a key that is not
    a string literal reads as ``<computed>``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and ast.unparse(node.func) in _ENV_READS:
            key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and ast.unparse(node.value) in (
            "os.environ",
            "environ",
        ):
            key = node.slice
        else:
            continue
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        names.add(key.value if literal else "<computed>")
    return names


def test_engine_reads_only_documented_env_vars():
    root = Path(citibike_analysis_spark.__file__).parent
    read = {}
    for path in sorted(root.rglob("*.py")):
        for name in _env_names_read(ast.parse(path.read_text())):
            read.setdefault(name, []).append(str(path.relative_to(root)))
    assert set(read) == ENGINE_ENV, read

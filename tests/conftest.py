import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from graphdb_cia_factbook_spark.session import clear_scratch, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def registry_builds(spark):
    """``built(name) -> (simple plan text, schema)`` of a registry
    entry at sf0.001, each entry built at most once per test session,
    for the whole-registry sweeps.  Only the plan text and the schema
    are kept, never the DataFrame, so no result keeps its build's
    scope alive; ``clear_scratch`` runs after each build."""
    from graphdb_cia_factbook_spark import registry
    qs = registry.queries()
    seen: dict = {}

    def built(name: str):
        if name not in seen:
            df = qs[name](spark, "/root/testdata/sf0.001")
            seen[name] = (df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"), df.schema)
            del df
            clear_scratch(spark)
        return seen[name]
    return built

import os
import shutil

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".work", "tests")


@pytest.fixture(scope="session")
def spark():
    from canal_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    s = get_spark(app_name="canal_spark_tests", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
    yield s


@pytest.fixture()
def tmp_work(request):
    import re

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", request.node.name)[:80]
    d = os.path.join(WORK, safe)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def rows_to_state(rows, cols):
    """Spark rows -> {doc_id: row-dict with tuple tokens} for oracle compare."""
    out = {}
    for r in rows:
        d = r.asDict(recursive=True)
        row = {c: d.get(c) for c in cols}
        if isinstance(row.get("tokens"), list):
            row["tokens"] = tuple(row["tokens"])
        out[d["doc_id"]] = row
    return out


def assert_state_equal(actual: dict, expected: dict, cols):
    assert set(actual) == set(expected), (
        f"doc_id sets differ: extra={sorted(set(actual) - set(expected))[:5]} "
        f"missing={sorted(set(expected) - set(actual))[:5]}"
    )
    for k, exp in expected.items():
        act = actual[k]
        for c in cols:
            assert act.get(c) == exp.get(c), (
                f"doc {k} col {c}: {act.get(c)!r} != {exp.get(c)!r}"
            )

"""``session.materialize``: the one eager checkpoint.  Its job runs
under the caller's job group with the label as description, and the
caller's description is back afterwards."""

import ast
import pathlib

from go_whisper_spark.session import materialize

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "go_whisper_spark"


def test_materialize_labels_its_job_and_restores_the_caller(spark, jobs_started):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    df = spark.range(100).selectExpr("id", "id % 7 AS k").groupBy("k").count()
    with jobs_started() as jobs:
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobDescription("caller step")
        out = materialize(df, "test:materialize")
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller step"
        assert out.count() == 7
    descriptions = [store.job(j).description() for j in jobs]
    labelled = [d.get() for d in descriptions if d.isDefined()]
    # the checkpoint job(s) carry the label; the caller's count its own
    assert "test:materialize" in labelled
    assert "caller step" in labelled
    assert set(labelled) == {"test:materialize", "caller step"}


def test_materialize_without_a_caller_description_leaves_none(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", None)
    materialize(spark.range(10), "test:no caller description")
    assert sc.getLocalProperty("spark.job.description") is None


def test_package_has_one_checkpoint_call_and_no_materialize_flag():
    """Every eager checkpoint in the package goes through
    ``session.materialize``: no ``.localCheckpoint(`` call outside
    session.py, and no function takes a ``materialize`` parameter."""
    calls, params = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                    and path.name != "session.py"):
                calls.append(f"{path.name}:{node.lineno}")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "materialize" in names:
                    params.append(f"{path.name}:{node.lineno}")
    assert calls == []
    assert params == []

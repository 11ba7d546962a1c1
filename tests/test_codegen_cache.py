"""Generated code is compiled once per session: the 12 cookbook metrics over
the fixture compile ~200 classes in a pass, more than Spark's default
codegen cache of 100 holds, so at the default a second pass compiles them
all again. ``session.BUILD_CONFS`` sizes the cache to keep a whole pass."""

from __future__ import annotations

from mta_rtf_dbt_spark.session import codegen_compiles
from tests.test_mta_metrics import CASES, mta_src  # noqa: F401
from tests.test_mta_models import mta_dir, mta_models  # noqa: F401


def test_second_cookbook_pass_reuses_generated_classes(spark, mta_models, mta_src):  # noqa: F811
    def cookbook_pass() -> int:
        before = codegen_compiles(spark)
        for case in CASES.values():
            case(mta_models, mta_src).collect()
        return codegen_compiles(spark) - before

    first = cookbook_pass()
    second = cookbook_pass()
    assert second < 20, (first, second)

"""Session defaults that change how Spark runs repeated work."""

from __future__ import annotations

from localsql_spark.session import codegen_compiles


def test_compiled_code_is_reused_across_statements(spark):
    # each text differs only in its literal, so each compiles its own
    # classes (two per text); 64 texts overflow Spark's default 100-entry
    # codegen cache, which would evict the first text's classes before
    # it runs again
    def run(i: int) -> None:
        spark.sql(f"SELECT id + {i} FROM range(3)").collect()

    run(0)
    n0, _ = codegen_compiles(spark)
    for i in range(1, 65):
        run(i)
    n1, _ = codegen_compiles(spark)
    assert n1 - n0 > 100, n1 - n0  # the sweep did overflow the default
    run(1)
    assert codegen_compiles(spark)[0] == n1

"""The label and similarity expression builders: column names in, one
parsed SQL expression out. Building one costs a fixed handful of py4j
round trips however large the expression (a Column-by-Column build
paid one per node: ~260 for a cosine, ~1.9k for a 16-plane hyperplane
signature), names are quoted at the boundary, and a Column argument is
refused by name."""

from __future__ import annotations

import pytest

from monolith_spark import functions as msf
from monolith_spark.labels import RE, LabelMatcher, python_signature

_CODEBOOKS = [
    [[(j + c) / 64.0] * 8 for c in range(16)] for j in range(8)
]  # m=8 subspaces x ksub=16 centroids of dim 8 (a 64-dim vector)

BUILDERS = {
    "signature_expr": ("labels",),
    "series_id_expr": ("labels",),
    "label_value": ("labels", "job"),
    "superset_predicate": ("labels", {"job": "api", "env": "prod"}),
    "matcher_predicate": (
        "labels", [LabelMatcher("job", "api"), LabelMatcher("env", "p.*", RE)]
    ),
    "exact_signature_predicate": ("labels", {"job": "api", "env": "prod"}),
    "dot_expr": ("va", "vb"),
    "norm_expr": ("va",),
    "cosine_expr": ("va", "vb"),
    "hyperplane_signature": ("embedding", 16, 64),
    "hyperplane_signature_offset": ("embedding", 16, 64, 32),
    "jl_expr": ("embedding", 16, 64),
    "pq_code_expr": ("embedding", _CODEBOOKS),
}


def test_budget_table_covers_every_exported_builder():
    homes = {"monolith_spark.labels", "monolith_spark.operators.similarity"}
    exported = {
        n for n in msf.__all__
        if callable(getattr(msf, n)) and not isinstance(getattr(msf, n), type)
        and getattr(msf, n).__module__ in homes
    }
    # the two string builders (driver-side signature, DuckDB oracle text)
    assert exported - {"python_signature", "signature_sql"} == set(BUILDERS)


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_builder_costs_at_most_three_py4j_calls(spark, py4j_calls, name):
    build = getattr(msf, name)
    build(*BUILDERS[name])  # warm the JVM-side function lookup
    assert py4j_calls(lambda: build(*BUILDERS[name])) <= 3


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_builder_refuses_a_column_by_name(spark, name):
    from pyspark.sql import functions as F

    first, *rest = BUILDERS[name]
    with pytest.raises(TypeError, match=rf"^{name}\(\) takes a column name"):
        getattr(msf, name)(F.col(first), *rest)


def test_builder_quotes_backticks_in_names(spark):
    labels = {"job": "a,b", "k=": "v"}
    df = spark.createDataFrame([(labels,)], "`a``b` map<string,string>")
    row = df.select(
        msf.signature_expr("a`b").alias("sig"),
        msf.label_value("a`b", "job").alias("job"),
        msf.exact_signature_predicate("a`b", labels).alias("hit"),
    ).head()
    assert (row["sig"], row["job"], row["hit"]) == (
        python_signature(labels), "a,b", True
    )

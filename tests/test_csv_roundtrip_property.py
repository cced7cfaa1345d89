"""Hypothesis round-trip property for the pinned CSV dialect
(VERDICT r7 #7): random unicode strings with quotes / newlines /
carriage returns / tabs / ``\\N`` / empty-vs-null through
write_csv → read_csv_all_string, asserting byte fidelity. The hostile-
value goldens (`test_csv_roundtrip_hostile_values`) cover the known cases; this
covers the unknown ones.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cbts_datalake_synnex_spark.sources.file_formats import (
    read_csv_all_string,
    write_csv,
)

# Characters chosen adversarially for RFC-4180: the quote and escape
# char, record and field separators, the null token's letters, plus
# non-ASCII — NOT fully-random codepoints (Spark's CSV reader treats
# lone '\r' as a record separator by design; that dialect pin is a
# golden, not a property).
_hostile = st.text(
    alphabet='ab,"\n\t\\N λü→ ;\'',
    min_size=0,
    max_size=30,
)
# A payload exactly equal to the null token is the dialect's one
# documented lossy value (Spark's reader applies nullValue after
# unquoting — see sources/file_formats.py); pinned by a golden, not
# exercised by the property.
_cell = st.one_of(st.none(), _hostile.filter(lambda s: s != "\\N"))


import pytest

# Certification tier (round 14): excluded from the default driver-budget
# run via pytest.ini; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(st.tuples(_cell, _cell), min_size=1, max_size=6))
def test_csv_roundtrip_byte_fidelity(spark, tmp_path_factory, rows):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "k bigint, a string, b string",
    )
    path = str(tmp_path_factory.mktemp("csvprop") / "data")
    write_csv(df, path)
    back = read_csv_all_string(spark, path)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * 3
    got = {r["k"]: (r["a"], r["b"]) for r in back.collect()}
    want = {str(i): (a, b) for i, (a, b) in enumerate(rows)}
    assert got == want

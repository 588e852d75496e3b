"""The query registry contract: the oracle SQL texts and the order the
registry serves them in stay fixed, so a refactor of the query bodies
cannot change which results are checked or which queries come first."""

from __future__ import annotations

import hashlib

from toyocr_spark.queries import oracle_sql, queries

# sha256 over (name, sql) in serving order, each field NUL-terminated
ORACLE_SQL_SHA256 = "c0fb2780828be7c3385f2a3dd5635efdf1678d3baf48c08919e1954318e84371"


def test_oracle_sql_texts_and_serving_order_are_frozen():
    h = hashlib.sha256()
    for name, sql in oracle_sql().items():
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == ORACLE_SQL_SHA256


def test_registry_size():
    assert len(queries()) == 197

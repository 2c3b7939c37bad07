"""Engine scalar-function helpers (vector math, text normalization).

Re-exported from the operator modules where they are defined next to
their users; kept importable here as the engine's public function
surface (the reference's equivalent is the DataFusion scalar library it
re-exports wholesale). The reference's one custom UDF, `database()`
(src/core/execution.rs:135-156), is not a function here: the dialect
expands it to the session's schema as a literal
(sparrow_spark.dialect.substitute_variables).
"""

from sparrow_spark.operators.similarity import cosine, dot, l2_norm
from sparrow_spark.operators.text import fingerprint, normalize_text, tokens

__all__ = ["cosine", "dot", "l2_norm", "fingerprint", "normalize_text", "tokens"]

"""Passes P12 + P13 — name sanitization for check/report identifiers.

The reference prefixes record names that collide with Avro primitives
(NameSanitizer.scala:4-36).  Its enum-symbol sanitization
(Transpiler.scala:313-332) has no counterpart here: the engine keeps *raw*
enum values for ``isin()`` checks (no Avro naming restriction on data) and
sanitizes only check names / verdict report columns, where Spark
column-name hygiene matters.
"""

from __future__ import annotations

import re

# Spark-reserved-ish / Avro primitive names the reference guards against
# (NameSanitizer.scala:10-18).
_RESERVED = {
    "boolean", "string", "int", "long", "float", "double", "bytes", "null",
}


def sanitize_check_name(name: str, root_name: str = "") -> str:
    """Column-safe check identifier; reserved names get a root prefix
    (NameSanitizer.scala:4-36 analog)."""
    out = re.sub(r"[^0-9A-Za-z_]", "_", name)
    out = re.sub(r"_{3,}", "__", out).strip("_")  # keep '__' separators
    if out and out[0].isdigit():
        out = "_" + out
    if out.lower() in _RESERVED and root_name:
        out = f"{root_name}_{out}"
    return out or "check"

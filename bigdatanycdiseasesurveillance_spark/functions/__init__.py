"""Expression helpers built only from Spark's native functions —
everything stays JVM-side inside whole-stage codegen. Most are Spark SQL
text builders (see sql_text)."""

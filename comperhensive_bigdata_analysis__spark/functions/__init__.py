"""Scalar/text/vector/bloom function library (SURVEY §2.7 + extensions).

Everything here returns Column expressions built from pyspark.sql.functions
builtins — JVM-side, whole-stage-codegen'd. No Python UDFs.
"""

"""xmlschema_spark — PySpark-native schema + constraint validation engine.

A from-scratch rebuild of sissaschool/xmlschema's validator semantics
(types + facets, identity constraints, referential integrity, assertions,
strict/lax/skip modes) as Catalyst column expressions and Arrow-batched
UDFs over DataFrames, plus the Spark-scale additions the reference never
needed: skew-safe aggregates, anti-join referential checks, drift sketches,
per-partition lineage manifests, and training-data pipeline operators.
"""

from .specs import (AssertSpec, ColumnSpec, ConditionalSpec,
                    ContentModelSpec, KeyrefSpec, OccursSpec,
                    OpenContentSpec, ParticleSpec, PayloadSpec,
                    TableSpec, UniqueSpec)
from .plans.compiler import ValidationPlan, compile_plan
from .runner import (ValidationResult, XmlSchemaSparkValidationError,
                     apply_defaults, is_valid, schema_violations, validate,
                     violations_frame, verdicts_frame)
from .sources.xsd_export import spec_to_xsd
from .sources.xsd_import import spec_from_xsd

__version__ = "0.1.0"
__all__ = [
    "AssertSpec", "ColumnSpec", "ConditionalSpec", "ContentModelSpec",
    "OpenContentSpec", "ParticleSpec",
    "KeyrefSpec", "OccursSpec", "apply_defaults", "schema_violations",
    "PayloadSpec", "TableSpec", "UniqueSpec", "ValidationPlan",
    "compile_plan", "ValidationResult", "XmlSchemaSparkValidationError",
    "is_valid", "validate", "violations_frame", "verdicts_frame",
    "spec_from_xsd", "spec_to_xsd",
]

"""Schema toolkit — reference ``SparkUtils`` contracts re-implemented.

The reference depends on six functions from the unvendored
``co.cask.hydrator:hydrator-common`` artifact; their observable
contracts are inferred from call sites and exact test assertions
(SURVEY.md §2.2).  This module re-implements them over Spark
``StructType``:

* ``validate_label_field_for_trainer``
* ``get_feature_list``            (SparkMLTrainer.java:114-116)
* ``get_categorical_feature_info`` (DecisionTreeTrainer.java:53-55)
* ``get_output_schema`` / widened projection (SparkMLPredictor.java:103)

Contracts locked by tests:

* feature order = input-schema field order restricted to the selected
  features (NOT config-list order) — include-list and exclude-list
  configs that select the same fields must produce identical vector
  layouts (SURVEY §1.4, DecisionTreeRegressionTest.java:113 vs :178-179);
* error messages are byte-identical to the reference's
  (DecisionTreeConfigTest.java:53,67,79-80,93).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from decision_tree_analytics_spark.errors import ConfigValidationError

_NUMERIC_FEATURE_TYPES = (IntegerType, LongType, FloatType, DoubleType)

# CDAP Schema.Type display names, used in the reference's messages.
_CDAP_TYPE_NAMES: list[tuple[type, str]] = [
    (IntegerType, "INT"),
    (LongType, "LONG"),
    (FloatType, "FLOAT"),
    (DoubleType, "DOUBLE"),
    (StringType, "STRING"),
]


def cdap_type_name(dt: DataType) -> str:
    for t, name in _CDAP_TYPE_NAMES:
        if isinstance(dt, t):
            return name
    return dt.simpleString().upper()


def _split_fields(csv: str | None) -> list[str]:
    if not csv:
        return []
    return [f.strip() for f in csv.split(",") if f.strip()]


def validate_label_field_for_trainer(schema: StructType, label_field: str) -> None:
    """Label must exist and be double (SparkMLTrainer.java:73-74)."""
    names = schema.fieldNames()
    if label_field not in names:
        raise ConfigValidationError(
            f"Label field {label_field} does not exists in the input schema."
        )
    dt = schema[label_field].dataType
    if not isinstance(dt, DoubleType):
        raise ConfigValidationError(
            f"Label field must be of type Double, but was {cdap_type_name(dt)}."
        )


def get_feature_list(
    schema: StructType,
    features_to_include: str | None,
    features_to_exclude: str | None,
    label_or_prediction_field: str,
) -> dict[str, int]:
    """Resolve the ordered feature-name → vector-index map.

    Include XOR exclude; both empty ⇒ all non-label fields.  Order is
    input-schema position, guaranteeing trainer/predictor agreement
    regardless of which config style each uses (SURVEY §1.4).
    """
    include = _split_fields(features_to_include)
    exclude = _split_fields(features_to_exclude)
    if include and exclude:
        raise ConfigValidationError(
            "Cannot specify values for both featureFieldsToInclude and "
            "featureFieldsToExclude. Please specify fields for one."
        )

    names = schema.fieldNames()
    for f in include + exclude:
        if f not in names:
            raise ConfigValidationError(
                f"Field {f} does not exists in the input schema."
            )

    if include:
        selected = [n for n in names if n in set(include)]
    else:
        dropped = set(exclude) | {label_or_prediction_field}
        selected = [n for n in names if n not in dropped]

    for f in selected:
        dt = schema[f].dataType
        if not isinstance(dt, _NUMERIC_FEATURE_TYPES):
            raise ConfigValidationError(
                "Features must be of type : int, double, float, long but was "
                f"of type {cdap_type_name(dt)} for field {f}."
            )
    return {name: i for i, name in enumerate(selected)}


def get_categorical_feature_info(
    feature_list: dict[str, int],
    cardinality_mapping: str | None,
) -> dict[int, int]:
    """Parse ``"field:cardinality,…"`` into vector-index → cardinality
    (DecisionTreeTrainer.java:53-55,66-71)."""
    out: dict[int, int] = {}
    if not cardinality_mapping:
        return out
    for item in cardinality_mapping.split(","):
        item = item.strip()
        if not item:
            continue
        parts = item.split(":")
        if len(parts) != 2:
            raise ConfigValidationError(
                f"Invalid categorical feature mapping: {item}. "
                "Please specify in the format 'field:cardinality'."
            )
        name, card = parts[0].strip(), parts[1].strip()
        if name not in feature_list:
            raise ConfigValidationError(
                f"Field {name} does not exists in the input schema."
            )
        try:
            out[feature_list[name]] = int(card)
        except ValueError as exc:
            raise ConfigValidationError(
                f"Invalid cardinality {card} for field {name}. "
                "Please specify valid integer for cardinality."
            ) from exc
    return out

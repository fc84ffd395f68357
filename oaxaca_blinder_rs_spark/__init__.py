"""PySpark-native analytics engine with the capabilities of
dot-comma-hyphen/oaxaca-blinder-rs (statistical decomposition for pay-equity
analytics), re-architected Spark-first: DataFrame plans + sufficient-statistic
aggregations + driver-side k x k solves.
"""

from .builder import OaxacaBuilder
from .errors import (
    ColumnNotFound,
    ConvergenceError,
    InsufficientData,
    InvalidGroupVariable,
    NonNumericData,
    OaxacaError,
    PerfectSeparation,
    SingularMatrix,
)
from .api import OaxacaBlinder, estimate_akm, match_units, run_dfl_from_csv
from .formula import Formula
from .quantile_builder import QuantileDecompositionBuilder, QuantileDecompositionResults
from .operators.budget import allocate_budget
from .operators.decomposition import ReferenceCoefficients
from .operators.diagnostics import calculate_vif
from .operators.jmp import decompose_changes
from .results import BudgetAdjustment, ComponentResult, OaxacaResults
from .session import get_spark, load_table

__version__ = "0.1.0"

__all__ = [
    "OaxacaBuilder",
    "OaxacaBlinder",
    "QuantileDecompositionBuilder",
    "QuantileDecompositionResults",
    "estimate_akm",
    "match_units",
    "run_dfl_from_csv",
    "decompose_changes",
    "calculate_vif",
    "allocate_budget",
    "ReferenceCoefficients",
    "OaxacaResults",
    "ComponentResult",
    "BudgetAdjustment",
    "Formula",
    "get_spark",
    "load_table",
    "OaxacaError",
    "ColumnNotFound",
    "InvalidGroupVariable",
    "InsufficientData",
    "SingularMatrix",
    "ConvergenceError",
    "PerfectSeparation",
    "NonNumericData",
]

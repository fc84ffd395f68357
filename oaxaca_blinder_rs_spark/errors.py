"""Error hierarchy mirroring the reference's `OaxacaError` variants.

Reference: /root/reference/oaxaca_blinder/src/error.rs (variants used across
builder.rs, math/ols.rs, math/logit.rs, akm.rs).
"""

from __future__ import annotations

import os
import sys
import warnings

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__)) + os.sep


def warn(message: str, category: type[Warning] = UserWarning) -> None:
    """``warnings.warn`` attributed to the first frame outside this package,
    so the warning names the caller's line whichever entry point (builder,
    ``api``, CLI, MCP) led to it."""
    frame, level = sys._getframe(1), 1
    while frame is not None and os.path.abspath(frame.f_code.co_filename).startswith(_PACKAGE_DIR):
        frame, level = frame.f_back, level + 1
    warnings.warn(message, category, stacklevel=level + 1)


class OaxacaError(Exception):
    """Base error for the engine."""


class ColumnNotFound(OaxacaError):
    """A named column does not exist (builder.rs:773-778)."""

    def __init__(self, column: str):
        super().__init__(f"Column not found: {column}")
        self.column = column


class InvalidGroupVariable(OaxacaError):
    """Bad group column / not enough groups (builder.rs:66-70, 431-435)."""


class InsufficientData(OaxacaError):
    """n_obs <= k for a regression (math/ols.rs:98-105)."""


class SingularMatrix(OaxacaError):
    """Cholesky failure == multicollinearity (math/ols.rs:107-111)."""

    def __init__(self, msg: str | None = None):
        super().__init__(
            msg
            or "Failed to perform Cholesky decomposition. Matrix may be "
            "singular or not positive definite due to multicollinearity."
        )


class ConvergenceError(OaxacaError):
    """Iterative fit failed to converge (math/logit.rs:110-116, akm.rs:519-526)."""


class PerfectSeparation(OaxacaError):
    """Logit perfect separation (math/logit.rs:45-49 clamp guard semantics)."""


class NonNumericData(OaxacaError):
    """Strict cast introduced nulls (engine/src/analysis.rs:14-35) or
    values that no estimate survives (+-Infinity)."""

    def __init__(self, column: str, what: str = "non-numeric data"):
        super().__init__(f"Column '{column}' contains {what}")
        self.column = column

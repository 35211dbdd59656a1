"""Structured error taxonomy for the engine.

Parity surface for the reference's exception hierarchy
(core/exceptions.py:11-200): every error carries a human message, an
actionable suggestion, a context dict, and the original exception when
chained — re-expressed for this engine's failure sites (table scans,
stage loads, page-range specs) instead of the reference's
PDF-file sites. Per-document parse failures are deliberately NOT
exceptions here: the tokenizer isolates them row-wise (zero words +
sidecar metric) so one poison document can never fail a 10^12-doc job —
this taxonomy covers driver-side setup/configuration errors where
failing fast is correct.
"""

from __future__ import annotations

from typing import Any


class EngineError(Exception):
    """Base engine error (reference PDFPlumbError semantics:
    message + suggestion + context + original_error)."""

    def __init__(self, message: str, suggestion: str | None = None,
                 context: dict[str, Any] | None = None,
                 original_error: Exception | None = None):
        self.message = message
        self.suggestion = suggestion
        self.context = context or {}
        self.original_error = original_error
        super().__init__(message)

    def render(self) -> str:
        """One-paragraph operator-facing rendering (CLI error pipeline)."""
        out = f"ERROR: {self.message}"
        if self.suggestion:
            out += f"\nSuggestion: {self.suggestion}"
        if self.context:
            ctx = ", ".join(f"{k}={v!r}" for k, v in sorted(self.context.items())
                            if v is not None)
            if ctx:
                out += f"\nContext: {ctx}"
        return out


class SourceError(EngineError):
    """A source table/stage could not be read."""

    def __init__(self, message: str, path: str | None = None,
                 fmt: str | None = None, **kwargs):
        context = kwargs.pop("context", {})
        context.update({"path": path, "format": fmt})
        super().__init__(message, context=context, **kwargs)


class SourceNotFoundError(SourceError):
    """Input path does not exist (reference PDFNotFoundError analog)."""

    def __init__(self, path: str, **kwargs):
        kwargs.setdefault(
            "suggestion",
            "Check the path and ensure the table/stage exists and is readable",
        )
        super().__init__(f"Input not found: {path}", path=path, **kwargs)


class SchemaMismatchError(SourceError):
    """A stage table is missing required columns (reference
    InvalidJSONError / analyze_document error-taxonomy analog)."""

    def __init__(self, path: str, missing: list[str], present: list[str],
                 **kwargs):
        context = kwargs.pop("context", {})
        context.update({"missing_columns": missing, "present_columns": present})
        kwargs.setdefault(
            "suggestion",
            "This does not look like a lines-stage table; point --lines at "
            "the output of `extract` (or re-run extract)",
        )
        super().__init__(
            f"Stage table at {path} is missing columns {missing}",
            path=path, context=context, **kwargs,
        )


class PageRangeError(EngineError):
    """Malformed page-range spec (reference parse_page_range errors)."""

    def __init__(self, spec: str, **kwargs):
        context = kwargs.pop("context", {})
        context.update({"spec": spec})
        kwargs.setdefault(
            "suggestion", "Use forms like '3', '1-5', '1-3,7', '-4', '10-'"
        )
        super().__init__(f"Invalid page range: {spec!r}", context=context, **kwargs)

"""Engine configuration: tolerances, zones, thresholds.

Mirrors the reference's Pydantic config semantics (src/pdf_plumb/config.py:9-172)
as an immutable dataclass broadcast with the job — no global singleton.
Document-type profiles (config.py:199-265) become named factory presets.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class EngineConfig:
    # C1 line clustering tolerance (config.py:13-21)
    y_tolerance: float = 3.0
    # gap quantization step (helpers.py:8-13, config.py:31-34)
    gap_rounding: float = 0.5
    # zone predicates, points (config.py:63-70): header < 1.25in, footer > H - 1.0in
    header_zone_inches: float = 1.25
    footer_zone_inches: float = 1.0
    # contextual rule multipliers (analyzer.py:122-210)
    line_spacing_lo_mult: float = 0.8
    line_spacing_hi_mult: float = 1.2
    para_spacing_mult: float = 1.1
    # header/footer large-gap threshold (analyzer_head.py:13-15, analyzer.py:504)
    large_gap_mult: float = 1.8
    # giant-document guard: cap on assembled body chars per url (None =
    # exact/uncapped). At 10^12-doc scale a pathological multi-GB document
    # would otherwise concentrate its whole string in one reduce task;
    # with the cap, pages past the cumulative limit are dropped before
    # assembly and the row is flagged body_truncated.
    max_body_chars: int | None = None
    # opt-in DOM-heuristic boilerplate strip: the lines carry per-line
    # char/link-char/word counts, form_blocks sums them per block and
    # webtext.block_boilerplate flags blocks dominated by link text or
    # label-sparse lines, which body assembly drops alongside the
    # geometric header/footer suppression. Off by default — the
    # reference's output contract (byte-identical body text) has no such
    # stage.
    drop_boilerplate: bool = False
    max_link_density: float = 0.33
    min_text_density: float = 2.0

    @property
    def header_zone_pt(self) -> float:
        return self.header_zone_inches * 72.0

    def with_profile(self, name: str) -> "EngineConfig":
        """Document-type profiles overriding tolerances (config.py:199-265)."""
        profiles = {
            "technical": {"y_tolerance": 3.0},
            "academic": {"y_tolerance": 2.5},
            "manual": {"y_tolerance": 3.5},
            "dense": {"y_tolerance": 2.0},
        }
        if name not in profiles:
            raise ValueError(f"unknown profile: {name!r}")
        return replace(self, **profiles[name])


DEFAULT = EngineConfig()

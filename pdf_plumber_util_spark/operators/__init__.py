from .lines import (  # noqa: F401
    assign_line_ids,
    assign_line_ids_window,
    build_segments,
    combine_words_x,
    line_texts_from_segments,
    assemble_lines,
    drop_blank_lines,
)
from .spacing import (  # noqa: F401
    contextual_gaps,
    contextual_spacing_rules,
    fallback_context,
    classify_gaps,
)
from .blocks import form_blocks  # noqa: F401
from .boundaries import (  # noqa: F401
    page_base_spacing,
    header_footer_candidates,
    contextual_header_footer_candidates,
    final_boundaries,
    body_text,
)
from .webtext import (  # noqa: F401
    block_boilerplate,
    corpus_report,
    domain_gate,
    c4_line_filter,
    canonical_url,
    cap_per_host,
    gopher_quality,
    host_of,
    host_stats,
    mix_plan,
    mix_sample,
    pack_sequences,
    pii_scrub,
    repeated_spans,
    url_dedup,
)
from .dedup import (  # noqa: F401
    decontaminate,
    duplicate_span_stats,
    exact_duplicates,
    near_dup_pipeline,
    paragraph_dedup,
)
from .text_analysis import (  # noqa: F401
    dsir_weights,
    lm_perplexity,
    perplexity_bucket,
    perplexity_cutoffs,
    repetition_stats,
    shared_span_stats,
    winnow_fingerprints,
)

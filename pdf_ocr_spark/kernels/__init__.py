"""Extraction kernels (pure Python) and their dispatch table.

``KERNELS`` maps a corpus (the ``doc_id`` prefix, ``corpus.corpus_of``)
to its whole-document kernel ``spans -> (out_spans, metrics)``. The Spark
pipeline and the oracle both dispatch through it, so they cannot
disagree on which kernel a document gets.
"""

from __future__ import annotations

from .boxish import extract_boxish
from .flowk import extract_flow_doc
from .gridk import extract_grid_doc
from .htmlk import extract_html_doc
from .mixed import extract_mixed
from .pdfish import extract_pdfish

KERNELS = {
    "pdfish": extract_pdfish,
    "mega": extract_pdfish,
    "styled": extract_pdfish,  # pdfish + style flags riding media_ref
    "html": extract_html_doc,
    "mixed": extract_mixed,
    "grid": extract_grid_doc,
    "boxes": extract_boxish,
    "flow": extract_flow_doc,
}

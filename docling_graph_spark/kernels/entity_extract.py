"""Labelled-field extractors (the LLM-backend replacement, template path).

The reference sends chunk batches to an LLM and validates the JSON response
against the template (`/root/reference/docling_graph/core/extractors/backends/
llm_backend.py:97-171`).  Per the north star those calls are replaced with
deterministic rule/regex extractors producing the same template-shaped
records, so the downstream merge/graph stages are exercised identically and
reproducibly.

:class:`FieldRuleExtractor` extracts labelled fields for invoice-style
templates ("Invoice Number: INV-1 ..."), mirroring the reference's sample
templates (its `tests/fixtures/sample_templates/test_template.py`).
The web-corpus term/email/year mentions have their one definition in
kernels/mentions.py.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, Mapping, Optional, Sequence


class FieldRuleExtractor:
    """Extract labelled fields from text into a template-shaped record.

    rules: field -> (regex with one capture group, optional converter).
    Missing fields yield None (downstream merge fills them from other chunks —
    the zero-data-loss contract of the reference's partial extraction).
    """

    def __init__(
        self,
        class_name: str,
        rules: Mapping[str, str],
        converters: Optional[Mapping[str, Callable[[str], Any]]] = None,
        list_fields: Sequence[str] = (),
    ) -> None:
        self.class_name = class_name
        self.rules = {f: re.compile(p, re.MULTILINE) for f, p in rules.items()}
        self.converters = dict(converters or {})
        self.list_fields = frozenset(list_fields)

    def extract(self, text: str) -> Dict[str, Any]:
        record: Dict[str, Any] = {}
        for field, pattern in self.rules.items():
            conv = self.converters.get(field)
            if field in self.list_fields:
                values = [m if isinstance(m, str) else m[0]
                          for m in pattern.findall(text)]
                record[field] = [conv(v) if conv else v for v in values]
            else:
                m = pattern.search(text)
                if m:
                    value = m.group(1).strip()
                    record[field] = conv(value) if conv else value
                else:
                    record[field] = None
        return record


def sample_invoice_extractor() -> FieldRuleExtractor:
    """Extractor matching the reference's SampleInvoice fixture template."""
    return FieldRuleExtractor(
        "SampleInvoice",
        rules={
            "invoice_number": r"Invoice Number:\s*(\S+)",
            "date": r"Date:\s*(\S+)",
            "total_amount": r"Total Amount:\s*([0-9.]+)",
            "vendor_name": r"Vendor:\s*([^\n]+)",
            "items": r"Item:\s*([^\n]+)",
        },
        converters={"total_amount": float},
        list_fields=("items",),
    )

"""PII label vocabulary.

Mirrors the reference's 11-value enum and, critically, its *ordering*
(reference: src/catalog_pii_scanner/pii_types.py:8-34) — ensemble argmax
tie-breaking is defined as "highest probability, then ALL_PII_TYPES order",
so the order below is part of the engine's semantics, not cosmetics.
"""

from __future__ import annotations

from enum import Enum


class PIIType(str, Enum):
    EMAIL = "EMAIL"
    PHONE_NUMBER = "PHONE_NUMBER"
    CREDIT_CARD = "CREDIT_CARD"
    SSN = "SSN"
    IP_ADDRESS = "IP_ADDRESS"
    MAC_ADDRESS = "MAC_ADDRESS"
    AADHAAR = "AADHAAR"
    PAN = "PAN"
    PERSON = "PERSON"
    ADDRESS = "ADDRESS"
    DATE = "DATE"


#: Canonical ordering — fusion/argmax determinism depends on it.
ALL_PII_TYPES: tuple[str, ...] = tuple(t.value for t in PIIType)


"""Seeded generator for ES-shaped JSON-lines documents in the shape of
the reference's ``office365_signin`` indices, with the exact counts a
correct export must reproduce.

Each document carries about 45 flat fields (each missing with
probability 0.15), one nested ``location`` object, one free-text
``message``, a ``rule_name`` drawn Zipf-like over 20 rules and a
``source_date`` spread over 7 days. ``source_date`` lives only inside
the document: the CLI's ``.jsonl`` path reads the whole line as the
document column, and a passthrough ``source_date`` column next to the
in-document one makes ``etl.json_docs_to_parquet`` fail with
``AMBIGUOUS_REFERENCE``.
"""

from __future__ import annotations

from collections import Counter
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Rule names share no token, so a match_phrase on one rule name never
# matches another rule.
RULES = [f"{a}-{b}" for a, b in zip(
    "office365 vpn aws okta github gsuite azure salesforce zoom slack "
    "duo box crowdstrike zscaler paloalto cisco jira dropbox workday "
    "atlassian".split(),
    "signin tunnel cloudtrail auth audit drive activity login meeting "
    "message push share detection proxy traffic asa issue upload payroll "
    "admin".split())]
DAYS = [(date(2024, 1, 24) + timedelta(days=i)).isoformat()
        for i in range(7)]
MISSING_P = 0.15
# the field whose null count the benchmark checks after export
NULL_FIELD = "client_app_used"
APPS = ["Browser", "Mobile Apps", "Exchange ActiveSync", "IMAP", "SMTP",
        "Other clients", "Outlook"]
WORDS = ("user signed in successfully from a new device after failed "
         "attempts the account was locked password reset requested by "
         "admin policy blocked sign risky location detected mfa "
         "challenge passed token refreshed session expired").split()

_STR_FIELDS = [NULL_FIELD, "user_principal_name", "user_display_name",
               "app_display_name", "app_id", "ip_address", "device_id",
               "device_os", "device_browser", "correlation_id",
               "resource_display_name", "resource_id", "tenant_id",
               "status_failure_reason", "conditional_access_status",
               "risk_level", "risk_state", "authentication_method",
               "authentication_requirement", "token_issuer_type",
               "user_agent", "operation_name", "category", "result_type",
               "result_description"]
_INT_FIELDS = ["status_error_code", "risk_score", "processing_time_ms",
               "attempt_count", "mfa_latency_ms", "session_length_s",
               "bytes_in", "bytes_out", "port", "asn"]
_FLOAT_FIELDS = ["confidence", "signin_duration_s", "geo_accuracy_km",
                 "anomaly_score", "trust_score"]
_BOOL_FIELDS = ["is_interactive", "is_compliant", "is_managed",
                "mfa_required", "is_risky"]
FLAT_FIELDS = _STR_FIELDS + _INT_FIELDS + _FLOAT_FIELDS + _BOOL_FIELDS


def _rule_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    return w / w.sum()


def _field(name: str, values: pa.Array, present: np.ndarray,
           quote: bool = False) -> pa.Array:
    """``"name":value`` per document, null where the field is
    missing."""
    text = pc.cast(values, pa.string())
    if quote:
        text = pc.binary_join_element_wise('"', text, '"', "")
    return pc.if_else(pa.array(present),
                      pc.binary_join_element_wise(f'"{name}":', text, ""),
                      pa.scalar(None, pa.string()))


def generate(seed: int, n_docs: int) -> tuple[list[str], dict]:
    """Return the JSON lines and the expected counts: the terms-agg
    rule ranking, per (rule, day) counts, the per-rule null count of
    ``NULL_FIELD`` and the per-rule input bytes."""
    rng = np.random.default_rng(seed)
    rule_idx = rng.choice(len(RULES), n_docs, p=_rule_weights(len(RULES)))
    day_idx = rng.integers(0, len(DAYS), n_docs)
    present = rng.random((n_docs, len(FLAT_FIELDS))) >= MISSING_P
    every = np.ones(n_docs, dtype=bool)

    parts = [_field("rule_name", pa.array(RULES).take(rule_idx), every,
                    quote=True),
             _field("source_date", pa.array(DAYS).take(day_idx), every,
                    quote=True),
             _field(NULL_FIELD, pa.array(APPS).take(
                 rng.integers(0, len(APPS), n_docs)), present[:, 0],
                 quote=True)]
    for j, name in enumerate(FLAT_FIELDS[1:], start=1):
        if name in _STR_FIELDS:
            vals = pc.binary_join_element_wise(
                f"{name[:4]}-", pc.cast(pa.array(
                    rng.integers(0, 5000, n_docs)), pa.string()), "")
            parts.append(_field(name, vals, present[:, j], quote=True))
        elif name in _INT_FIELDS:
            parts.append(_field(name, pa.array(
                rng.integers(0, 100_000, n_docs)), present[:, j]))
        elif name in _FLOAT_FIELDS:
            parts.append(_field(name, pa.array(np.round(
                rng.random(n_docs) * 100 + 0.001, 3)), present[:, j]))
        else:
            parts.append(_field(name, pa.array(rng.random(n_docs) < 0.5),
                                present[:, j]))
    geo = rng.integers(0, 50, n_docs)
    loc = pc.binary_join_element_wise(
        '"location":{"city":"city-', pc.cast(pa.array(geo), pa.string()),
        '","country":"C', pc.cast(pa.array(geo % 12), pa.string()),
        '","lat":', pc.cast(pa.array(geo * 1.5 - 29.75), pa.string()),
        ',"lon":', pc.cast(pa.array(geo * 3.1 - 69.9), pa.string()),
        "}", "")
    msg_len = rng.integers(4, 16, n_docs)
    offsets = np.concatenate([[0], np.cumsum(msg_len)]).astype(np.int32)
    words = pa.array(WORDS).take(rng.integers(0, len(WORDS),
                                              int(offsets[-1])))
    msg = pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")
    parts += [loc, _field("message", msg, every, quote=True)]
    body = pc.binary_join_element_wise(*parts, ",",
                                       null_handling="skip")
    lines = pc.binary_join_element_wise("{", body, "}", "").to_pylist()

    rules = [RULES[i] for i in rule_idx]
    by_rule = Counter(rules)
    by_day = Counter(zip(rules, (DAYS[t] for t in day_idx)))
    nulls = Counter(r for r, p in zip(rules, present[:, 0]) if not p)
    size = Counter()
    for r, line in zip(rules, lines):
        size[r] += len(line) + 1
    # the terms-agg order: doc count descending, then key ascending
    ranked = sorted(by_rule.items(), key=lambda kv: (-kv[1], kv[0]))
    expected = {
        "n_docs": n_docs,
        "ranked": [list(kv) for kv in ranked],
        "per_day": {r: {t: by_day[(r, t)] for t in DAYS if by_day[(r, t)]}
                    for r in by_rule},
        "nulls": {r: nulls[r] for r in by_rule},
        "bytes": dict(size),
    }
    return lines, expected


def write(path: str, seed: int, n_docs: int) -> dict:
    lines, expected = generate(seed, n_docs)
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    return expected

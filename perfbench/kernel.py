"""Driver-side pass of the media kernel over a seeded sample of payloads.

Calls `operators.mediapath.extract_media_records` once per sampled
media ref with its public callees wrapped in spans, and splits the
kernel's time into phases:

  fetch      synth.media_payload (stands in for the blob-store fetch;
             reported as its own layer, never as engine time)
  decode     decode_payload_any
  normalize  normalize_payload, normalize.resize_cap, normalize.morph_open
  dedup      greedy_dedup_payload
  self       the rest: segmentation, deskew, token read-out, classify

The region producers are wrapped too, only to count the candidate
regions each payload yields.
"""

from __future__ import annotations

import random
import re
from collections import defaultdict

from cadastral_map_ocr_system_spark.operators import mediapath, normalize

FAMILIES = ["plain", "neg", "rgb", "lowc", "rot", "big", "huge", "hires"]
PHASES = ["fetch", "decode", "normalize", "dedup"]
# payloads sampled per family; the 1%-skew families cost 10-30x more
SAMPLE = {"big": 12, "huge": 6, "hires": 6}
SAMPLE_DEFAULT = 40

_FAMILY_RE = re.compile(r"^media://([a-z]+)/")


def family_of(media_ref: str) -> str:
    m = _FAMILY_RE.match(media_ref)
    return m.group(1) if m else "plain"


def sample_refs(refs: list[str], seed: int) -> dict[str, list[str]]:
    by_family: dict[str, list[str]] = defaultdict(list)
    for ref in sorted(refs):
        by_family[family_of(ref)].append(ref)
    rng = random.Random(f"kernel-sample:{seed}")
    return {
        f: rng.sample(by_family[f], min(len(by_family[f]), SAMPLE.get(f, SAMPLE_DEFAULT)))
        for f in FAMILIES
        if by_family[f]
    }


def kernel_pass(tracer, refs_by_family: dict[str, list[str]]) -> dict:
    """Run the sample; returns per-family mean ms per payload and per-
    family mean ms per phase, plus records and candidate regions."""
    targets = [
        ("fetch", mediapath, "media_payload"),
        ("decode", mediapath, "decode_payload_any"),
        ("normalize", mediapath, "normalize_payload"),
        ("normalize", normalize, "resize_cap"),
        ("normalize", normalize, "morph_open"),
        ("dedup", mediapath, "greedy_dedup_payload"),
        ("regions", mediapath, "extract_regions"),
        ("regions", mediapath, "extract_regions_tiled"),
        ("regions", mediapath, "_regions_from_comps"),
    ]
    # first calls pay lazy imports and first-touch costs: run one
    # payload per family untraced before the timed pass
    for refs in refs_by_family.values():
        mediapath.extract_media_records("bench", 0, refs[0])
    payload_spans: list[tuple[str, dict]] = []
    records = 0
    with tracer.wrapped(targets):
        for fam, refs in refs_by_family.items():
            for ref in refs:
                with tracer.span("mediapath.payload", family=fam) as sp:
                    out = mediapath.extract_media_records("bench", 0, ref)
                records += len(out)
                payload_spans.append((fam, sp))

    kids = tracer.children()
    ms = defaultdict(list)
    phase_ms = defaultdict(lambda: defaultdict(float))
    candidates = 0

    def walk(span: dict, payload: dict, fam: str, in_phase: bool) -> None:
        nonlocal candidates
        for c in kids.get(span["id"], []):
            name = c["name"]
            if name == "regions" and span is payload:
                candidates += c.get("n_out", 0)
            is_phase = name in PHASES
            if is_phase and not in_phase:
                phase_ms[fam][name] += (c["end"] - c["start"]) * 1e3
            walk(c, payload, fam, in_phase or is_phase)

    for fam, sp in payload_spans:
        ms[fam].append((sp["end"] - sp["start"]) * 1e3)
        walk(sp, sp, fam, False)
    out = {"families": {}, "records": records, "candidates": candidates}
    for fam, vals in ms.items():
        n = len(vals)
        phases = {p: phase_ms[fam][p] / n for p in PHASES}
        phases["self"] = sum(vals) / n - sum(phases.values())
        out["families"][fam] = {"n": n, "ms": sum(vals) / n, "phases": phases}
    return out

"""Output checker for one changeset's ``.osc``, run outside the timed region."""

from __future__ import annotations

import hashlib
import xml.etree.ElementTree as ET

from inputs import Diff


def check_osc(path: str, diff: Diff, digests: dict[str, str]) -> tuple[list[str], dict]:
    """Check ``path`` against ``diff``'s expectations.

    Returns (errors, stats).  ``digests`` maps a diff name to the sha256 of
    its first output; a later output of the same diff must match it byte
    for byte (the first one is recorded here)."""
    with open(path, "rb") as f:
        data = f.read()
    try:
        root = ET.fromstring(data)
    except ET.ParseError as e:
        return [f"not well formed: {e}"], {}
    errors: list[str] = []
    counts: dict[str, int] = {}
    seen: set[tuple[str, int]] = set()
    ids: dict[str, dict[str, set[int]]] = {b: {"node": set(), "way": set(), "relation": set()} for b in ("create", "modify", "delete")}
    refs: list[int] = []
    members: list[int] = []
    modify_refs: list[int] = []
    chunks = 0
    for block in root:
        if block.tag not in ids:
            errors.append(f"unexpected block <{block.tag}>")
            continue
        for el in block:
            key = f"{block.tag}/{el.tag}"
            counts[key] = counts.get(key, 0) + 1
            eid = int(el.get("id"))
            if (el.tag, eid) in seen:
                errors.append(f"duplicate {el.tag} id {eid}")
            seen.add((el.tag, eid))
            ids[block.tag][el.tag].add(eid)
            nds = [int(nd.get("ref")) for nd in el.iter("nd")]
            refs += nds
            if block.tag == "modify":
                modify_refs += nds
            elif block.tag == "create" and el.tag == "way":
                chunks += any(t.get("k") == "highway" for t in el.iter("tag"))
            members += [int(m.get("ref")) for m in el.iter("member") if m.get("type") == "way"]
    want = {k: v for k, v in diff.expected.items() if v}
    if counts != want:
        errors.append(f"counts {counts} != expected {want}")
    created = sorted(i for kind in ids["create"].values() for i in kind)
    if created != list(range(diff.id_offset + 1, diff.id_offset + 1 + len(created))):
        errors.append("created ids are not dense from --id_offset+1")
    created_nodes = ids["create"]["node"]
    if sorted(created_nodes) != created[: len(created_nodes)]:
        errors.append("created node ids are not dense from --id_offset+1")

    def in_extract(r: int) -> bool:
        return any(lo <= r <= hi for lo, hi in diff.extract_nodes)

    dangling = [r for r in refs if r not in created_nodes and not in_extract(r)]
    if dangling:
        errors.append(f"{len(dangling)} nd refs resolve to no node, e.g. {dangling[:3]}")
    if set(members) - ids["create"]["way"]:
        errors.append("relation member refs resolve to no created way")
    if ids["modify"]["way"] != diff.modify_ways:
        errors.append("modified way ids differ from the crossed existing ways")
    if ids["delete"]["way"] != diff.delete_ways:
        errors.append("deleted way ids differ from --deletions")
    digest = hashlib.sha256(data).hexdigest()
    if digests.setdefault(diff.name, digest) != digest:
        errors.append("output differs from the first output of the same diff")
    stats = {
        "elements": sum(counts.values()),
        "osc_bytes": len(data),
        "counts": counts,
        "junctions": len(set(modify_refs) & created_nodes),
        "way_chunks": chunks,  # created ways of new roads (polygon rings carry no highway tag)
    }
    return errors, stats

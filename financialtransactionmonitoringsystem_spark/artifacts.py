"""Fingerprinted persisted-artifact markers.

Corpus-derived artifacts (the IVF index, the duplicate-cluster table)
are built once per corpus snapshot and re-read by every downstream
query.  An empty ``_BUILT`` marker cannot tell a current build from a
stale one: regenerate the corpus at the same path and the old artifact
silently serves wrong clusters/cells (ADVICE r3/r4).  The marker
therefore stores a fingerprint of (build params + source-file identity);
builders rebuild whenever it mismatches.

The fingerprint uses file size + mtime_ns, not content hashes: at 100 TB
a content hash is a full corpus read per build check, while the
size/mtime set is one metadata listing -- the same trade every build
system makes.  (Object stores expose the same via etag/length;
swap ``os.stat`` for the store listing there.)
"""

from __future__ import annotations

import hashlib
import json
import os


def corpus_slug(sf_dir: str) -> str:
    """Filesystem-safe, INJECTIVE directory slug for a corpus path: the
    readable sanitized form plus a short hash of the exact path.  Plain
    ``re.sub(r"\\W+", "_", ...)`` is not injective ('/data/sf0.1' and
    '/data/sf0_1' collide), and a collision makes two corpora share one
    on-disk artifact directory while per-process DataFrame caches keep
    serving whichever build last overwrote it (review finding).  Every
    artifact base path (token/prefix/band/simhash/cluster tables, the
    IVF index) routes through here."""
    import re

    clean = sf_dir.strip("/")
    return (re.sub(r"\W+", "_", clean) + "_"
            + hashlib.md5(clean.encode()).hexdigest()[:8])


def corpus_fingerprint(paths: list[str], params: dict) -> str:
    """Stable fingerprint of the given source files/dirs and build
    params.  Directories are walked; each file contributes its relative
    name, size, and mtime_ns."""
    h = hashlib.sha256()
    for p in sorted(paths):
        if os.path.isdir(p):
            files = sorted(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(p) for f in fs)
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            rel = os.path.relpath(f, os.path.dirname(p)) if os.path.isdir(p) \
                else os.path.basename(f)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    h.update(json.dumps(params, sort_keys=True, default=str).encode())
    return h.hexdigest()


def marker_current(marker_path: str, fingerprint: str) -> bool:
    """True iff the marker exists and records exactly this fingerprint.
    A legacy empty marker (pre-fingerprinting builds) reads as stale."""
    try:
        with open(marker_path) as fh:
            return fh.read().strip() == fingerprint
    except OSError:
        return False


def write_marker(marker_path: str, fingerprint: str) -> None:
    os.makedirs(os.path.dirname(marker_path), exist_ok=True)
    with open(marker_path, "w") as fh:
        fh.write(fingerprint + "\n")


def corpus_builders() -> dict:
    """Name -> builder for every persisted corpus artifact: token-set
    table, rarest-first prefix index, MinHash band table, SimHash chunk
    table, duplicate-cluster table, IVF index.  Each builder takes
    ``(spark, sf_dir)``, no-ops when its artifact is current and returns
    its base path; the bench harnesses iterate this registry with
    per-build error flagging."""
    from .operators.dedup import (build_band_table, build_cluster_table,
                                  build_prefix_index, build_simhash_table,
                                  build_token_table)
    from .operators.similarity import build_ivf_index

    return {
        "token_table": build_token_table,
        "prefix_index": build_prefix_index,
        "band_table": build_band_table,
        "simhash_table": build_simhash_table,
        "cluster_table": build_cluster_table,
        "ivf_index": build_ivf_index,
    }


def ensure_parquet_artifact(base: str, subdir: str, fingerprint: str,
                            derive) -> str:
    """The build half of a single-parquet persisted artifact: no-op when
    the ``_BUILT`` marker records exactly ``fingerprint``, else write
    ``derive()`` to ``base/subdir`` and stamp the marker.  Shared by
    every artifact family so fingerprint/marker mechanics cannot drift
    between them (review finding: the 5th copy-paste of this quartet
    omitted a fingerprint param)."""
    done = os.path.join(base, "_BUILT")
    if marker_current(done, fingerprint):
        return base
    derive().write.mode("overwrite").parquet(os.path.join(base, subdir))
    write_marker(done, fingerprint)
    return base


def parquet_artifact_or(spark, base: str, subdir: str, fingerprint: str,
                        fallback):
    """The read half: the persisted parquet when the marker is current
    for ``fingerprint``, else ``fallback()`` (the inline derivation)."""
    from .tables import read_parquet

    if marker_current(os.path.join(base, "_BUILT"), fingerprint):
        return read_parquet(spark, os.path.join(base, subdir))
    return fallback()

"""Sidecar staleness registry — one lifecycle contract for every derived
serving table that lives NEXT TO the index rather than inside a snapshot.

The engine's index proper is snapshot-consistent (``snapshots.py``
commits, time travel, expire). Its SIDECARS are not: the banded fuzzy
dictionary (``suggest.write_fuzzy_variants``), the phrase-suggester LM
(``phrasesuggest.write_bigram_lm``), the local reader's serving
copy (``IndexBuilder.compact_local``) and any persisted ANN/char index
are derived tables that track the CURRENT state and silently keep
serving old data after a delete + vacuum or an incremental build. Each
module documents that contract individually; this registry makes it
checkable in one place:

- ``stamp(index_dir, name)`` — record (name, snapshot_id, n_docs, ts)
  at sidecar-write time. Writers call it after a successful write.
- ``staleness(index_dir)`` — every stamped sidecar with the snapshot it
  was built at vs the current snapshot, plus unstamped sidecar dirs
  found on disk (legacy writes).
- ``check(index_dir, name, *, strict)`` — True when the sidecar is
  current; with ``strict=True`` raise instead of returning False —
  serving stacks gate probes on it cheaply (one tiny parquet read,
  cached by mtime).

The registry is advisory by design: a stale LM is the SAME staleness
class as the index's own documented df/avgdl contract under tombstones
(correct-until-vacuum), so readers keep working — but an operator
wiring a served stack can now see, in one call, which sidecars a vacuum
invalidated instead of re-deriving that from four module docstrings.

Storage: ``{index_dir}/sidecar_log`` — an append-only parquet log, one
file per stamp (same no-clobber discipline as the snapshot log; the
newest row per name wins).
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd

from . import snapshots as _snap

__all__ = ["stamp", "staleness", "check", "refresh", "KNOWN_SIDECARS"]

# dirname -> what writes it (for unstamped-discovery reporting)
KNOWN_SIDECARS = {
    "fuzzy_variants": "suggest.write_fuzzy_variants",
    "bigram_lm": "phrasesuggest.write_bigram_lm",
    "postings_local": "IndexBuilder.compact_local",
}


def _log_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "sidecar_log")


def _read_log(index_dir: str) -> pd.DataFrame | None:
    files = sorted(glob.glob(os.path.join(_log_dir(index_dir),
                                          "*.parquet")))
    if not files:
        return None
    import pyarrow.parquet as pq
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def stamp(index_dir: str, name: str) -> dict:
    """Record that sidecar ``name`` was (re)built against the index's
    CURRENT snapshot. Returns the stamped row as a dict."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sid = _snap.current_id(index_dir)
    row = {"name": str(name), "snapshot_id": int(sid),
           "ts": float(time.time())}
    d = _log_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    seq = len(glob.glob(os.path.join(d, "*.parquet")))
    pq.write_table(pa.Table.from_pandas(pd.DataFrame([row])),
                   os.path.join(d, f"stamp-{seq:06d}.parquet"))
    return row


def staleness(index_dir: str) -> pd.DataFrame:
    """(name, stamped_snapshot, current_snapshot, stale, stamped) for
    every stamped sidecar AND every known sidecar dir present on disk
    without a stamp (stamped=False, stale=None — age unknown)."""
    cur = _snap.current_id(index_dir)
    log = _read_log(index_dir)
    rows = []
    seen = set()
    if log is not None and not log.empty:
        latest = log.sort_values("ts").groupby("name").tail(1)
        for r in latest.itertuples():
            rows.append({"name": r.name, "stamped_snapshot":
                         int(r.snapshot_id), "current_snapshot": int(cur),
                         "stale": bool(int(r.snapshot_id) != int(cur)),
                         "stamped": True})
            seen.add(r.name)
    for d, writer in KNOWN_SIDECARS.items():
        if d in seen:
            continue
        if os.path.isdir(os.path.join(index_dir, d)):
            rows.append({"name": d, "stamped_snapshot": np.nan,
                         "current_snapshot": int(cur), "stale": None,
                         "stamped": False})
    return pd.DataFrame(
        rows, columns=["name", "stamped_snapshot", "current_snapshot",
                       "stale", "stamped"])


def check(index_dir: str, name: str, *, strict: bool = False) -> bool:
    """True iff ``name`` was stamped at the index's current snapshot.
    ``strict=True`` raises ValueError with the stamped-vs-current ids on
    a miss (unstamped counts as a miss)."""
    cur = _snap.current_id(index_dir)
    log = _read_log(index_dir)
    sid = None
    if log is not None and not log.empty:
        mine = log[log["name"] == name]
        if not mine.empty:
            sid = int(mine.sort_values("ts").iloc[-1]["snapshot_id"])
    ok = sid is not None and sid == cur
    if not ok and strict:
        raise ValueError(
            f"sidecar {name!r} is {'unstamped' if sid is None else 'stale'}"
            f" (stamped at snapshot {sid}, index is at {cur}) — rebuild it"
            f" ({KNOWN_SIDECARS.get(name, 'its writer')}) after"
            " vacuum/incremental builds")
    return ok


def refresh(index, docs=None, *, names=None,
            dry_run: bool = False) -> pd.DataFrame:
    """Rebuild every stale (or unstamped) sidecar against the index's
    CURRENT snapshot — the one-call answer to "a vacuum just landed;
    re-derive what it invalidated". Each rebuild preserves the sidecar's
    original build parameters (fuzzy depth / bucket counts read back
    from its own meta) and re-stamps through the writer itself, so a
    subsequent ``check(strict=True)`` passes.

    ``index`` is a live ``SearchIndex`` (re-open it after the
    snapshot-advancing operation so the writers see current state).
    ``docs`` is the corpus DataFrame the bigram LM derives from — the
    one sidecar whose source is outside the index dir; without it that
    rebuild is reported as skipped, never guessed. ``names`` restricts
    the pass; ``dry_run=True`` reports what WOULD rebuild.

    Returns (name, stale, action) — action in rebuilt / would-rebuild /
    skipped-needs-docs / current.
    """
    d = index.index_dir
    st = staleness(d)
    out = []
    for r in st.itertuples():
        if names is not None and r.name not in names:
            continue
        needs = r.stale is True or r.stamped is False
        if not needs:
            out.append({"name": r.name, "stale": False,
                        "action": "current"})
            continue
        if dry_run:
            out.append({"name": r.name, "stale": True,
                        "action": "would-rebuild"})
            continue
        if r.name == "fuzzy_variants":
            import pyarrow.parquet as pq
            from .suggest import FUZZY_META_DIRNAME, write_fuzzy_variants
            mf = sorted(glob.glob(os.path.join(
                d, FUZZY_META_DIRNAME, "*.parquet")))
            depth, nb = 2, 64
            if mf:
                m = pq.read_table(mf[0]).to_pandas().iloc[0]
                depth, nb = int(m["depth"]), int(m["n_buckets"])
            write_fuzzy_variants(index, depth=depth, n_buckets=nb)
            out.append({"name": r.name, "stale": True,
                        "action": "rebuilt"})
        elif r.name == "bigram_lm":
            if docs is None:
                out.append({"name": r.name, "stale": True,
                            "action": "skipped-needs-docs"})
                continue
            from .phrasesuggest import LM_DIRNAME, write_bigram_lm
            parts = glob.glob(os.path.join(d, LM_DIRNAME, "pairs",
                                           "b1=*"))
            nb = len(parts) or 64
            write_bigram_lm(index, docs, n_buckets=nb)
            out.append({"name": r.name, "stale": True,
                        "action": "rebuilt"})
        elif r.name == "postings_local":
            from .build import BuildConfig, IndexBuilder
            IndexBuilder(d, BuildConfig(
                n_buckets=index.n_buckets)).compact_local(index.spark)
            out.append({"name": r.name, "stale": True,
                        "action": "rebuilt"})
        else:
            out.append({"name": r.name, "stale": True,
                        "action": "skipped-unknown-writer"})
    return pd.DataFrame(out, columns=["name", "stale", "action"])

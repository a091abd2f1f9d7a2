"""Seeded input generators and the independent answers they imply.

Everything here is numpy / pyarrow / pure Python: the engine only ever
sees the files these functions write and the DataFrames read from them.
Expected answers (match counts, change counts, planted duplicates) are
derived from the generator's own structured description of each input,
never from engine code such as ``glob_to_regex``.
"""

from __future__ import annotations

import dataclasses
import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
ZONES = ("raw", "curated")
DATASETS = tuple(f"ds{i:02d}" for i in range(12))
EXTS = ("json", "csv", "parquet", "log", "txt")
HOURS = 24 * 60  # the catalog spans 60 days of hourly partitions

def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _etags(rng: np.random.Generator, n: int) -> list[str]:
    hi = rng.integers(0, 1 << 63, n, dtype=np.int64)
    lo = rng.integers(0, 1 << 63, n, dtype=np.int64)
    return [f"{a:016x}{b:016x}" for a, b in zip(hi.tolist(), lo.tolist())]


# ---------------------------------------------------------------------------
# object catalog (catalog_query, snapshot_sync)
# ---------------------------------------------------------------------------


@dataclass
class Catalog:
    """Columnar object catalog, rows sorted by key. The structured
    columns (zone, ds, ext, tmp, dot, hour index) are what the request
    oracle evaluates; ``key`` is their rendering."""

    key: np.ndarray  # object array of str
    zone: np.ndarray
    ds: np.ndarray
    ext: np.ndarray
    tmp: np.ndarray  # bool: a tmp/ segment before the basename
    dot: np.ndarray  # bool: dotfile basename
    hidx: np.ndarray  # hours since EPOCH
    size: np.ndarray
    etag: np.ndarray  # object array of str
    mtime_us: np.ndarray  # int64 microseconds since the unix epoch

    def __len__(self) -> int:
        return len(self.key)

    def take(self, idx) -> "Catalog":
        return Catalog(**{f: getattr(self, f)[idx] for f in self.__dataclass_fields__})

    def parts(self) -> dict[str, np.ndarray]:
        """year/month/day/hour partition values per row."""
        days = self.hidx // 24
        base = np.datetime64("2024-01-01")
        dates = base + days.astype("timedelta64[D]")
        y = dates.astype("datetime64[Y]").astype(int) + 1970
        m = dates.astype("datetime64[M]").astype(int) % 12 + 1
        d = (dates - dates.astype("datetime64[M]")).astype(int) + 1
        return {"year": y, "month": m, "day": d, "hour": self.hidx % 24}

    def arrow(self, with_parts: bool = False) -> pa.Table:
        cols = {
            "key": pa.array(self.key.tolist(), pa.string()),
            "size": pa.array(self.size, pa.int64()),
            "etag": pa.array(self.etag.tolist(), pa.string()),
            "last_modified": pa.array(self.mtime_us, pa.timestamp("us", tz="UTC")),
        }
        if with_parts:
            for k, v in self.parts().items():
                cols[k] = pa.array(v, pa.int32())
        return pa.table(cols)

    def digest(self) -> str:
        return digest(*self.key[:: max(1, len(self) // 997)], self.size.sum(), len(self))


def _render_keys(zone, ds, ext, tmp, dot, hidx, serial) -> np.ndarray:
    out = []
    for z, d, e, t, dt, h, s in zip(
        zone.tolist(), ds.tolist(), ext.tolist(), tmp.tolist(), dot.tolist(),
        hidx.tolist(), serial.tolist(),
    ):
        ts = EPOCH + timedelta(hours=h)
        out.append(
            f"{ZONES[z]}/{DATASETS[d]}/year={ts.year}/month={ts.month:02d}/"
            f"day={ts.day:02d}/hour={ts.hour:02d}/{'tmp/' if t else ''}"
            f"{'.' if dt else ''}part-{s:07d}.{EXTS[e]}"
        )
    return np.array(out, dtype=object)


def make_catalog(rng: np.random.Generator, n: int, serial0: int = 0) -> Catalog:
    """``n`` objects under zone/dataset/year=/month=/day=/hour=/ with
    mixed extensions, 5% under a tmp/ segment and 3% dotfiles."""
    zone = rng.choice(len(ZONES), n, p=[0.7, 0.3])
    ds = rng.choice(len(DATASETS), n, p=zipf_p(len(DATASETS), 0.8))
    ext = rng.choice(len(EXTS), n, p=[0.35, 0.2, 0.25, 0.15, 0.05])
    tmp = rng.random(n) < 0.05
    dot = rng.random(n) < 0.03
    hidx = rng.integers(0, HOURS, n)
    serial = np.arange(serial0, serial0 + n)
    size = np.maximum(1, rng.lognormal(10, 2, n).astype(np.int64))
    mtime = (
        int(EPOCH.timestamp() * 1e6)
        + hidx * 3_600_000_000
        + rng.integers(0, 3_600_000_000, n)
    )
    key = _render_keys(zone, ds, ext, tmp, dot, hidx, serial)
    cat = Catalog(key, zone, ds, ext, tmp, dot, hidx, size,
                  np.array(_etags(rng, n), dtype=object), mtime.astype(np.int64))
    return cat.take(np.argsort(key, kind="stable"))


def write_parquet(table: pa.Table, path: str, row_group_size: int = 8192) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


# ---------------------------------------------------------------------------
# catalog_query requests
# ---------------------------------------------------------------------------


@dataclass
class Request:
    zones: list[int]
    datasets: list[int] | None  # explicit positive set, or
    excluded: list[int] | None  # wildcard dataset minus these
    exts: list[int]
    exclude_tmp: bool
    window: tuple[int, int] | None  # inclusive hour-index range
    prune: dict[str, int] | None
    meta_keys: list[int]  # indices into the metadata hot set

    def patterns(self) -> list[str]:
        """Render to micromatch globs (braces for sets, ``!`` for
        exclusions)."""

        def alt(names: list[str]) -> str:
            return names[0] if len(names) == 1 else "{" + ",".join(names) + "}"

        z = alt([ZONES[i] for i in self.zones])
        e = alt([EXTS[i] for i in self.exts])
        if self.datasets is not None:
            pats = [f"{z}/{alt([DATASETS[i] for i in self.datasets])}/**/*.{e}"]
        else:
            pats = [f"{z}/*/**/*.{e}"]
            pats += [f"!*/{DATASETS[i]}/**" for i in self.excluded]
        if self.exclude_tmp:
            pats.append("!**/tmp/**")
        return pats


def make_requests(rng: np.random.Generator, n: int, hot: int, draws: int) -> list[Request]:
    """Seeded request stream. Whether a request carries a time window
    and/or a partition spec follows a fixed 4-cycle (window, none,
    window + spec, spec), so every run sees the same mix of request
    shapes; everything else is drawn from the seed."""
    out = []
    p_ds = zipf_p(len(DATASETS), 0.8)
    p_hot = zipf_p(hot, 1.1)
    for i in range(n):
        zones = sorted(rng.choice(len(ZONES), 1 + int(rng.random() < 0.4), replace=False).tolist())
        if rng.random() < 0.6:
            k = int(rng.integers(1, 4))
            datasets = sorted(rng.choice(len(DATASETS), k, replace=False, p=p_ds).tolist())
            excluded = None
        else:
            datasets = None
            excluded = sorted(rng.choice(len(DATASETS), int(rng.integers(1, 3)), replace=False).tolist())
        exts = sorted(rng.choice(len(EXTS), int(rng.integers(1, 3)), replace=False).tolist())
        window = None
        if i % 4 in (0, 2):
            length = int(rng.integers(6, 24 * 7))
            lo = int(rng.integers(0, HOURS - length))
            window = (lo, lo + length)
        prune = None
        if i % 4 in (2, 3):
            kind = int(rng.integers(0, 3))
            if kind == 0:
                prune = {"hour": int(rng.integers(0, 24))}
            elif kind == 1:
                prune = {"day": int(rng.integers(1, 29))}
            else:
                prune = {"month": int(rng.integers(1, 3)), "day": int(rng.integers(1, 29))}
        out.append(
            Request(zones, datasets, excluded, exts, bool(rng.random() < 0.7), window,
                    prune, rng.choice(hot, draws, p=p_hot).tolist())
        )
    return out


def window_bounds(w: tuple[int, int]) -> tuple[datetime, datetime]:
    return EPOCH + timedelta(hours=w[0]), EPOCH + timedelta(hours=w[1])


def expected_answer(cat: Catalog, parts: dict, r: Request, k: int) -> tuple[int, int, str]:
    """(count, total size, digest of the k smallest keys) straight from
    the structured request. ``*``/``**`` never match a dot-leading
    basename (micromatch default), so dotfiles never match."""
    m = np.isin(cat.zone, r.zones) & np.isin(cat.ext, r.exts) & ~cat.dot
    if r.datasets is not None:
        m &= np.isin(cat.ds, r.datasets)
    else:
        m &= ~np.isin(cat.ds, r.excluded)
    if r.exclude_tmp:
        m &= ~cat.tmp
    if r.window is not None:
        m &= (cat.hidx >= r.window[0]) & (cat.hidx <= r.window[1])
    for col, v in (r.prune or {}).items():
        m &= parts[col] == v
    idx = np.flatnonzero(m)  # catalog rows are key-sorted
    return int(len(idx)), int(cat.size[idx].sum()), digest(*cat.key[idx[:k]])


# ---------------------------------------------------------------------------
# lake sync mutations
# ---------------------------------------------------------------------------

ADD_SHARE, MODIFY_SHARE, DELETE_SHARE = 0.02, 0.02, 0.01


@dataclass
class Mutation:
    live: Catalog
    added: np.ndarray  # keys
    modified: np.ndarray
    deleted: np.ndarray


def mutate(rng: np.random.Generator, live: Catalog, n_base: int, serial0: int) -> Mutation:
    """One round: fixed counts of adds, modifies (new size, etag and a
    later mtime) and deletes, drawn from the live catalog."""
    n_add = int(n_base * ADD_SHARE)
    n_mod = int(n_base * MODIFY_SHARE)
    n_del = int(n_base * DELETE_SHARE)
    pick = rng.permutation(len(live))[: n_mod + n_del]
    mod_idx, del_idx = pick[:n_mod], pick[n_mod:]
    keep = np.ones(len(live), bool)
    keep[del_idx] = False
    size = live.size.copy()
    etag = live.etag.copy()
    mtime = live.mtime_us.copy()
    size[mod_idx] += rng.integers(1, 4096, n_mod)
    etag[mod_idx] = _etags(rng, n_mod)
    mtime[mod_idx] += 3_600_000_000
    changed = dataclasses.replace(live, size=size, etag=etag, mtime_us=mtime)
    new = make_catalog(rng, n_add, serial0)
    kept = changed.take(np.flatnonzero(keep))
    merged = Catalog(**{
        f: np.concatenate([getattr(kept, f), getattr(new, f)])
        for f in Catalog.__dataclass_fields__
    })
    merged = merged.take(np.argsort(merged.key, kind="stable"))
    return Mutation(merged, new.key, live.key[mod_idx], live.key[del_idx])


# ---------------------------------------------------------------------------
# curate corpus
# ---------------------------------------------------------------------------

SOURCES = ("web", "books", "news", "code")
STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")
EXACT_SHARE, NEAR_SHARE, SEM_SHARE = 0.03, 0.05, 0.03
NEAR_EDITS = 2  # word substitutions per near copy (of ~120 words)
DIM = 64


@dataclass
class Corpus:
    doc_id: np.ndarray
    source: np.ndarray
    text: list[str]
    emb: np.ndarray  # float32 [n, DIM]
    exact_copies: int
    near_pairs: list[tuple[int, int]]  # (original id, near-copy id)

    def digest(self) -> str:
        return digest(len(self.text), *self.text[:: max(1, len(self.text) // 499)],
                      self.emb[:: 97].tobytes())

    def docs_arrow(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "source": pa.array(self.source.tolist(), pa.string()),
            "text": pa.array(self.text, pa.string()),
        })

    def emb_arrow(self) -> pa.Table:
        flat = pa.array(self.emb.reshape(-1), pa.float32())
        return pa.table({
            "vec_id": pa.array(self.doc_id, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32())),
        })


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(rng.choice(letters, ln)) for ln in lens}
    return sorted(words - set(STOPWORDS))


def make_corpus(rng: np.random.Generator, n_base: int) -> Corpus:
    """``n_base`` original docs of ~120 words over a Zipf vocabulary,
    plus planted exact copies, near copies (NEAR_EDITS substituted
    words, a near-duplicate vector) and semantic copies (fresh text, a
    near-duplicate vector). Planted docs get ids above every original,
    so the original is always the lowest id of its group."""
    vocab = np.array(list(STOPWORDS) + _vocab(rng, 6000), dtype=object)
    p = zipf_p(len(vocab), 1.05)
    lens = rng.integers(100, 141, n_base)
    words = rng.choice(len(vocab), int(lens.sum()), p=p)
    texts, at = [], 0
    for ln in lens.tolist():
        texts.append(words[at: at + ln])
        at += ln
    src = rng.choice(len(SOURCES), n_base, p=[0.5, 0.2, 0.2, 0.1])
    emb = rng.standard_normal((n_base, DIM)).astype(np.float32)

    n_exact = int(n_base * EXACT_SHARE)
    n_near = int(n_base * NEAR_SHARE)
    n_sem = int(n_base * SEM_SHARE)
    origin = rng.permutation(n_base)[: n_exact + n_near + n_sem]
    ex_o, near_o, sem_o = (origin[:n_exact], origin[n_exact:n_exact + n_near],
                           origin[n_exact + n_near:])
    out_words = list(texts)
    out_src = src.tolist()
    out_emb = [emb]
    near_pairs = []
    nid = n_base
    for o in ex_o.tolist():
        out_words.append(texts[o])
        out_src.append(src[o])
        nid += 1
    out_emb.append(emb[ex_o])
    for o in near_o.tolist():
        w = texts[o].copy()
        pos = rng.choice(len(w) - 2, NEAR_EDITS, replace=False) + 1
        w[pos] = (w[pos] + rng.integers(1, len(vocab), NEAR_EDITS)) % len(vocab)
        out_words.append(w)
        out_src.append(src[o])
        near_pairs.append((o, nid))
        nid += 1
    out_emb.append(emb[near_o] + 0.05 * rng.standard_normal((n_near, DIM)).astype(np.float32))
    for o in sem_o.tolist():
        ln = int(rng.integers(100, 141))
        out_words.append(rng.choice(len(vocab), ln, p=p))
        out_src.append(src[o])
        nid += 1
    out_emb.append(emb[sem_o] + 0.05 * rng.standard_normal((n_sem, DIM)).astype(np.float32))
    text = [" ".join(vocab[w]) for w in out_words]
    return Corpus(
        np.arange(nid, dtype=np.int64),
        np.array([SOURCES[s] for s in out_src], dtype=object),
        text,
        np.concatenate(out_emb).astype(np.float32),
        n_exact,
        near_pairs,
    )


def shingle_set(text: str, k: int = 3) -> set[str]:
    """Distinct word k-shingles of a generated text (already lowercase,
    single-spaced) — the definition the fuzzy check verifies against."""
    w = text.split(" ")
    if len(w) < k:
        return {text}
    return {" ".join(w[i: i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    return len(sa & sb) / len(sa | sb)

"""Seeded input generators and the benchmark's own correctness oracles.

Built on numpy, pyarrow and pandas only: nothing here imports the engine, so
an engine change can never change the bytes the benchmark feeds it.

CDC stream (``cdc_events``) reproduces the stream properties of the engine's
synthetic source: monotone hex commit prefixes (one commit per ~5 steps),
hot-key bursts (~8% of events on the 16 hottest keys, repo 0 owns ~30% of the
keys), every ~37th event emitted twice, I/U/D ops at 5/3/2, and ~2% invalid
rows in six corruption modes (null repo, empty path, short commit, bad op,
upsert without content, delete with content).

The query workload reads fixed data (``perfbench/data/sf0.1``), not generated
tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "go", "rust", "js", "sql", "md"]
EXT = ["py", "java", "go", "rs", "js", "sql", "md"]

CDC_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("event_seq", pa.int64()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)


def _hex(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """``n`` random lowercase hex strings of ``width`` characters."""
    raw = rng.integers(0, 256, size=(n, (width + 1) // 2), dtype=np.uint8)
    return np.array([bytes(r).hex()[:width] for r in raw], dtype=object)


N_REPOS = 20
INVALID_FRAC = 0.02
CONTENT_LEN = (40, 400)  # characters of an upsert's content


def cdc_events(seed: int, n_events: int, n_keys: int) -> pd.DataFrame:
    """The change stream as one frame in generation order, with a ``step``
    column (the generating position; monotone in (commit, event_seq)).
    Duplicated events appear as two identical adjacent rows."""
    rng = np.random.default_rng([seed, 0xCDC])
    step = np.arange(n_events, dtype=np.int64)

    # keys: repo 0 is hot (~30% of keys); ~8% of events hit 16 hot keys
    hot_cut = max(1, int(n_keys * 0.3))
    key_repo = np.where(
        np.arange(n_keys) < hot_cut, 0, rng.integers(1, N_REPOS, size=n_keys)
    )
    key_lang = rng.integers(0, len(LANGS), size=n_keys)
    key_dir = rng.integers(0, 1000, size=n_keys)
    burst = rng.random(n_events) < 0.08
    key = np.where(
        burst, rng.integers(0, min(16, n_keys), size=n_events), rng.integers(0, n_keys, size=n_events)
    )
    repo = np.array([f"org{r % 97}/repo{r}" for r in key_repo], dtype=object)[key]
    path = np.array(
        [f"src/mod{d}/file{k}.{EXT[l]}" for k, (d, l) in enumerate(zip(key_dir, key_lang))],
        dtype=object,
    )[key]
    lang = np.array(LANGS, dtype=object)[key_lang[key]]

    # one commit per ~5 steps; the 12-hex prefix keeps commits monotone
    commit_id = step // 5
    suffix = _hex(rng, int(commit_id[-1]) + 1 if n_events else 0, 28)
    commit = np.array([f"{c:012x}" for c in range(len(suffix))], dtype=object) + suffix
    commit = commit[commit_id]

    opsel = rng.integers(0, 10, size=n_events)
    op = np.where(opsel < 5, "I", np.where(opsel < 8, "U", "D")).astype(object)
    pool = _hex(rng, 1, 1 << 16)[0]
    lo, hi = CONTENT_LEN
    length = rng.integers(lo, hi + 1, size=n_events)
    offset = rng.integers(0, len(pool) - hi, size=n_events)
    content = np.array([pool[o : o + n] for o, n in zip(offset, length)], dtype=object)
    content[op == "D"] = None

    df = pd.DataFrame(
        {
            "op": op, "repo": repo, "path": path, "commit": commit,
            "event_seq": step, "lang": lang, "content": content, "step": step,
        }
    )
    # duplicate identical events: ~1 in 37 emitted twice
    copies = np.where(rng.integers(0, 37, size=n_events) == 0, 2, 1)
    df = df.loc[df.index.repeat(copies)].reset_index(drop=True)

    # corruption modes (applied per step, so both copies of a dup agree)
    s = df["step"].to_numpy()
    sick_step = rng.random(n_events) < INVALID_FRAC
    mode_step = rng.integers(0, 6, size=n_events)
    sick, mode = sick_step[s], mode_step[s]
    is_d = (df["op"] == "D").to_numpy()
    df.loc[sick & (mode == 0), "repo"] = None
    df.loc[sick & (mode == 1), "path"] = ""
    m2 = sick & (mode == 2)
    df.loc[m2, "commit"] = df.loc[m2, "commit"].str.slice(0, 10)
    df.loc[sick & (mode == 3), "op"] = "X"
    df.loc[sick & (mode == 4) & ~is_d, "content"] = None
    df.loc[sick & (mode == 5) & is_d, "content"] = "ghost content on delete"
    return df


def valid_mask(df: pd.DataFrame) -> np.ndarray:
    """The documented validation contract, written out independently."""
    content = df["content"]
    has = content.notna().to_numpy()
    op = df["op"].fillna("").to_numpy()
    ok = df["repo"].notna().to_numpy() & (df["repo"].fillna("").str.strip(" ") != "").to_numpy()
    ok &= df["path"].notna().to_numpy() & (df["path"].fillna("").str.strip(" ") != "").to_numpy()
    ok &= df["commit"].fillna("").str.fullmatch(r"[0-9a-f]{40}").to_numpy()
    ok &= df["event_seq"].notna().to_numpy() & (df["event_seq"].fillna(-1) >= 0).to_numpy()
    ok &= np.isin(op, ["I", "U", "D"])
    ok &= (op != "D") | ~has
    ok &= ~np.isin(op, ["I", "U"]) | has
    text = content.fillna("x")
    ok &= (text.str.strip(" ") != "").to_numpy() & ~text.str.contains("\x00", regex=False).to_numpy()
    return ok


def cdc_oracle(df: pd.DataFrame) -> tuple[dict[tuple[str, str], str], int]:
    """Expected final state {(repo, path): sha256(content)} under global
    last-writer-wins on (commit, event_seq) over valid rows (a final delete
    leaves no key), and the expected quarantine row count."""
    ok = valid_mask(df)
    v = df.loc[ok, ["repo", "path", "commit", "event_seq", "op", "content"]]
    win = v.sort_values(["commit", "event_seq"], kind="stable").groupby(
        ["repo", "path"], sort=False
    ).tail(1)
    win = win[win["op"] != "D"]
    state = {
        (r, p): hashlib.sha256(c.encode()).hexdigest()
        for r, p, c in zip(win["repo"], win["path"], win["content"])
    }
    return state, int((~ok).sum())


def write_events(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` (CDC columns only) as one parquet file."""
    table = pa.Table.from_pandas(df[CDC_SCHEMA.names], schema=CDC_SCHEMA, preserve_index=False)
    pq.write_table(table, path)


def files_sha256(paths: list[str]) -> str:
    """One digest over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


"""Seeded tick generator for the benchmark.

Two uses:

* As a module, the pure functions below give the exact ticks of every
  spool file for a seed, so the benchmark's reference can replay them
  without reading anything the engine produced.
* As a program (``python3 perfbench/gen.py ...``) it is the open-loop
  load generator of ``live_alerts``: a single-threaded process that
  writes one AlphaVantage-shaped parquet file per interval into the
  engine's spool directory, on a fixed schedule that does not slow when
  the engine slows.  Each tick's ``arrival`` column is the instant it
  was due, and files are written with the engine's own protocol:
  dotfile first, then ``os.rename`` (the file source ignores dotfiles).
  On exit it prints one JSON line with how late it ran.

Ticks are drawn per file from ``numpy.random.default_rng([seed, k])``,
so file ``k`` of a seed is the same whatever the run length.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

#: the open loop of ``live_alerts``: ticks per second, seconds per spool file
RATE = 2000
INTERVAL = 0.25
PER_FILE = int(RATE * INTERVAL)
#: its symbol law: Zipf(1.0) over SYMBOLS normal symbols, plus HOT planted
#: symbols priced around the threshold that make up HOT_SHARE of the ticks
SYMBOLS = 500
HOT = 5
HOT_SHARE = 0.04
#: AlphaVantage spool columns (engine._AV_SPOOL_DDL).
AV_COLUMNS = ("01. symbol", "05. price", "06. volume", "arrival")
#: price strings carry 4 decimals; prices are drawn as integer 1e-4 units
PRICE_SCALE = 10_000
#: normal symbols trade in [90, 105]: their 5-tick mean can never pass 108
NORMAL_PRICE = (90 * PRICE_SCALE, 105 * PRICE_SCALE)
#: planted symbols trade in [106.5, 111.5]: mostly above the 108 threshold,
#: sometimes below, so the threshold comparison itself is exercised
HOT_PRICE = (1_065_000, 1_115_000)


def zipf_probs(n: int, s: float = 1.0) -> np.ndarray:
    """Zipf(s) probabilities over ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def symbol_names(n_symbols: int, n_hot: int) -> list[str]:
    """Normal symbols ``S0000..`` followed by planted ``HOT0..``."""
    return [f"S{i:04d}" for i in range(n_symbols)] + [f"HOT{i}" for i in range(n_hot)]


def price_str(units: int) -> str:
    return f"{units // PRICE_SCALE}.{units % PRICE_SCALE:04d}"


def draw_ticks(
    rng: np.random.Generator, n: int, n_symbols: int, n_hot: int, hot_share: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``n`` ticks as (symbol index, price units, volume).  Symbol index
    ``>= n_symbols`` is a planted (hot) symbol."""
    sym = rng.choice(n_symbols, size=n, p=zipf_probs(n_symbols))
    hot = rng.random(n) < hot_share
    if n_hot:
        sym = np.where(hot, n_symbols + rng.integers(0, n_hot, size=n), sym)
    lo, hi = NORMAL_PRICE
    price = rng.integers(lo, hi, size=n)
    hlo, hhi = HOT_PRICE
    price = np.where(sym >= n_symbols, rng.integers(hlo, hhi, size=n), price)
    vol = rng.integers(1, 10_000, size=n)
    return sym, price, vol


def file_ticks(seed: int, k: int) -> list[tuple[str, str, str]]:
    """The ticks of spool file ``k``: ``(symbol, price, volume)`` strings,
    in arrival order."""
    rng = np.random.default_rng([seed, k])
    names = symbol_names(SYMBOLS, HOT)
    sym, price, vol = draw_ticks(rng, PER_FILE, SYMBOLS, HOT, HOT_SHARE)
    return [(names[s], price_str(int(p)), str(int(v))) for s, p, v in zip(sym, price, vol)]


def write_spool_file(spool: str, name: str, ticks, arrival_us) -> None:
    """One AV-shaped parquet file, dotfile then rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*ticks)) if ticks else [(), (), ()]
    table = pa.table(
        {
            AV_COLUMNS[0]: pa.array(cols[0], pa.string()),
            AV_COLUMNS[1]: pa.array(cols[1], pa.string()),
            AV_COLUMNS[2]: pa.array(cols[2], pa.string()),
            AV_COLUMNS[3]: pa.array(arrival_us, pa.timestamp("us")),
        }
    )
    tmp = os.path.join(spool, f".{name}")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(spool, name))


def due_us(t0_us: int, index: int) -> int:
    """Due instant (µs) of the ``index``-th tick of the open loop
    starting at ``t0_us``."""
    return t0_us + index * 1_000_000 // RATE


def spool_name(k: int) -> str:
    return f"gen-{k:06d}.parquet"


def run(args: argparse.Namespace) -> dict:
    """The open loop: file ``k`` holds the ticks due in
    ``[t0 + k·INTERVAL, t0 + (k+1)·INTERVAL)`` and is written once its
    last tick is due.  Lag = how late each write finished."""
    lag_max = 0.0
    for k in range(args.files):
        arrival = [due_us(args.t0_us, k * PER_FILE + j) for j in range(PER_FILE)]
        write_at = (args.t0_us + (k + 1) * round(INTERVAL * 1e6)) / 1e6
        delay = write_at - time.time()
        if delay > 0:
            time.sleep(delay)
        write_spool_file(args.spool, spool_name(k), file_ticks(args.seed, k), arrival)
        lag_max = max(lag_max, time.time() - write_at)
    return {"files": args.files, "ticks": args.files * PER_FILE, "lag_s_max": lag_max}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--spool", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--t0-us", type=int, required=True, help="open-loop start, epoch µs")
    p.add_argument("--files", type=int, required=True)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    print(json.dumps(run(parse_args(argv))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

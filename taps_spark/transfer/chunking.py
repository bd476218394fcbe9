"""Adaptive batch-size controller (reference #15 parity).

The reference tunes rows-per-request toward a 0.8-1.1 s round trip:
  diff > 3 s  → size/3;  > 1.1 s → −100;  < 0.8 s → ×2;  else +100;
  disconnect → reset to 10, then 1; floor 1; the first 20 chunks
  train a running average used as a floor thereafter
(lib/taps/chunksize.rb:17-51, lib/taps/utils.rb:97-115,
lib/taps/data_stream.rb:89-106; spec'd in spec/chunksize_spec.rb).

This is a tested port of the reference controller that no transfer
path uses: Spark's AQE adapts the shuffle side, and JDBC reads and
writes run with the static `fetchsize`/`batchsize` that
io/jdbc.plan_jdbc_scan and JdbcEndpoint set. The math is
reimplemented from the documented behavior (not a copy of its code) and
pinned by tests mirroring the reference spec.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ChunkSizer:
    chunksize: int = 1000
    target_low: float = 0.8
    target_high: float = 1.1
    hard_slow: float = 3.0
    retry_floor_first: int = 10
    train_window: int = 20

    num_chunksize: int = 0
    avg_chunksize: float = 0.0
    retries: int = 0
    _history: list[int] = field(default_factory=list)

    def on_success(self, elapsed: float, idle: float = 0.0) -> int:
        """Feed one round-trip time; returns the next chunk size.

        Mirrors calc_new_chunksize exactly: a success immediately after
        a disconnect keeps the reset size unchanged (no timing
        adjustment — a reset 10 must not instantly double), and the
        slow branch is ceil(size/3) like Ruby's (chunksize/3).ceil.
        """
        if self.retries > 0:
            self.retries = 0
            return self.chunksize
        diff = max(elapsed - idle, 1e-9)
        size = self.chunksize
        if diff > self.hard_slow:
            size = -(-size // 3)  # ceil division
        elif diff > self.target_high:
            size -= 100
        elif diff < self.target_low:
            size *= 2
        else:
            size += 100
        size = max(size, 1)

        # Training window: the running average of the first N sizes
        # becomes a floor, damping oscillation after warm-up.
        if self.num_chunksize < self.train_window:
            self._history.append(size)
            self.num_chunksize += 1
            self.avg_chunksize = sum(self._history) / len(self._history)
        else:
            size = max(size, int(self.avg_chunksize))

        self.retries = 0
        self.chunksize = size
        return size

    def on_disconnect(self) -> int:
        """Crash-back: 10 then 1, mirroring the reference's EPIPE
        handling; callers raise after the second retry."""
        self.retries += 1
        self.chunksize = self.retry_floor_first if self.retries == 1 else 1
        return self.chunksize

    @property
    def exhausted(self) -> bool:
        return self.retries > 2

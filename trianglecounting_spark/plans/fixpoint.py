"""One round driver for the iterative operators.

The loops share their bookkeeping, and ``RoundDriver`` owns it: the scoped
shuffle-partition count, ``IterationCheckpointer`` resume and ``maybe_save``,
the materialization cadence, releasing round k−1's blocks once round k is
materialized and the stop probe has read both, and — on every exit,
exceptions included — unpersisting the cached edge side and releasing every
locally-checkpointed block created inside the ``with`` except the result's
own. An operator supplies only its set-up, ``step(k, state)`` and an
optional ``stop(new, old)``:

    with RoundDriver(spark, checkpointer) as loop:
        side = loop.cache(edges_keyed_by_src)
        state = loop.run(loop.resume(initial), step, rounds, n_part=n_part)
        return loop.finish(result_of(state))
"""

from __future__ import annotations

from contextlib import nullcontext
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from trianglecounting_spark.plans.cache import (
    locally_checkpointed_ids,
    persistent_rdd_ids,
    release_ids,
    tracked_checkpoint,
)
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.plans.tuning import scoped_shuffle_partitions


class RoundDriver:
    """One loop's block, cache and checkpoint bookkeeping (module docstring)."""

    def __init__(self, spark: SparkSession, checkpointer: IterationCheckpointer | None = None):
        self.spark, self.checkpointer = spark, checkpointer
        self._cached: list[DataFrame] = []
        self._start, self._retain = 0, False
        # block ids materialized since the last round boundary / by the last
        # round; the result's ids once ``finish`` ran
        self._pending: set[int] = set()
        self._live: set[int] = set()
        self._keep: set[int] | None = None

    def __enter__(self) -> "RoundDriver":
        self._before = persistent_rdd_ids(self.spark)
        return self

    def __exit__(self, exc_type, *_exc) -> None:
        for df in self._cached:
            df.unpersist()
        keep = self._live | self._pending if self._keep is None else self._keep
        created = persistent_rdd_ids(self.spark) - self._before
        if exc_type is None:
            created -= keep
        release_ids(self.spark, locally_checkpointed_ids(self.spark, created))

    def cache(self, df: DataFrame) -> DataFrame:
        """Persist a frame every round re-reads; unpersisted on exit."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._cached.append(df)
        return df

    def materialize(self, df: DataFrame, before: set[int] | None = None) -> DataFrame:
        """Eager tracked checkpoint whose blocks belong to the current round."""
        out, ids = tracked_checkpoint(df, before=before)
        self._pending |= ids
        return out

    def resume(self, initial: DataFrame) -> DataFrame:
        """The checkpointer's latest snapshot, whose round ``run`` continues
        from, or ``initial``. A snapshot with other columns than ``initial``
        was written by another loop or version and is refused."""
        restored = self.checkpointer.restore() if self.checkpointer is not None else None
        if restored is None:
            return initial
        self._start, state = restored
        if state.columns != initial.columns:
            raise ValueError(
                f"checkpoint {self.checkpointer.dir!r} holds columns {state.columns}, "
                f"this loop's state has {initial.columns}"
            )
        return state

    def _end_round(self) -> None:
        if self._pending:
            if not self._retain:
                release_ids(self.spark, self._live)
            self._live, self._pending = self._pending, set()

    def run(
        self,
        state: Any,
        step: Callable[[int, Any], Any],
        last: int,
        *,
        n_part: int | None = None,
        every: int | None = 1,
        stop: Callable[[DataFrame, DataFrame], bool] | None = None,
        retain: bool = False,
    ) -> Any:
        """Rounds k = resumed round + 1 .. ``last`` of ``state = step(k, state)``.

        ``every``: materialize the state every ``every`` rounds and on the
        last; ``None`` when ``step`` materializes its own pieces through
        ``materialize`` (the state may then be any object). ``stop(new,
        old)`` runs once round k is saved and materialized; true ends the
        loop. ``retain`` keeps every round's blocks until exit, for a result
        that reads them all. ``n_part`` scopes ``spark.sql.shuffle.partitions``.
        """
        self._retain = retain
        self._end_round()  # set-up materializations are the resumed round's
        done = None
        scope = scoped_shuffle_partitions(self.spark, n_part) if n_part else nullcontext()
        with scope:
            for k in range(self._start + 1, last + 1):
                prev, due = state, every is not None and (k % every == 0 or k == last)
                # taken before the step's plan exists: blocks the plan itself
                # registers (the triangle kernel's) are released at materialize
                before = persistent_rdd_ids(self.spark) if due else None
                state = step(k, state)
                if self.checkpointer is not None:
                    state = self.checkpointer.maybe_save(k, state)
                if due:
                    state = done = self.materialize(state, before)
                stopped = stop is not None and stop(state, prev)
                self._end_round()
                if stopped:
                    break
        if every is not None and state is not done:  # no round ran
            state = self.materialize(state)
            self._end_round()
        return state

    def finish(self, df: DataFrame) -> DataFrame:
        """Materialize the result: on exit it is the only block kept."""
        out, self._keep = tracked_checkpoint(df)
        return out

"""One owner for the eager ``localCheckpoint`` barriers of an operator call.

``localCheckpoint`` pins its RDD at MEMORY_AND_DISK for the application
lifetime, and a locally-checkpointed RDD cannot be recomputed: its blocks
must stay while anything reads the frame and should go the moment nothing
does.  An iterative operator that checkpoints every round would otherwise
hold O(rounds) dead copies of its state (25 rounds x 10^10 label rows =
terabytes of executor storage).  ``Pins`` holds that policy in one place::

    with Pins() as pins:
        state = pins.pin(initial)
        for _ in range(n):
            nxt = pins.pin(step(state))
            pins.free(state)          # superseded round
            state = nxt
        return pins.keep(state)       # the result reads it

Leaving the block frees every frame still held, on the exception path too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Pins:
    """Tracks the pinned frames of one operator call, keyed by identity."""

    def __init__(self) -> None:
        self._held: dict[int, tuple[DataFrame, object]] = {}

    def __enter__(self) -> "Pins":
        return self

    def __exit__(self, *exc) -> None:
        held, self._held = self._held, {}
        for _df, rdd in held.values():
            rdd.unpersist(False)

    def pin(self, df: DataFrame) -> DataFrame:
        """Eagerly checkpoint ``df`` and hold the result."""
        return self.adopt(df.localCheckpoint(eager=True))

    def adopt(self, df: DataFrame) -> DataFrame:
        """Take over a checkpointed frame another operator returned.

        The pinned RDD is the one wrapped by the ``LogicalRDD`` plan node;
        ``toRdd()`` returns a metrics-wrapping derivative whose unpersist
        is a no-op, so the handle comes from the analyzed plan, taken now.
        """
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            raise ValueError(f"not a checkpointed frame: {plan.nodeName()}")
        self._held[id(df)] = (df, plan.rdd())
        return df

    def free(self, df: DataFrame) -> None:
        """Release a held frame now; nothing may read it afterwards."""
        self._take(df)[1].unpersist(False)

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand a held frame to the caller: the returned result reads it."""
        self._take(df)
        return df

    def _take(self, df: DataFrame) -> tuple[DataFrame, object]:
        try:
            return self._held.pop(id(df))
        except KeyError:
            raise ValueError("frame is not held by these pins") from None

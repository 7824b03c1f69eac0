"""Overlap independent eager materializations on driver threads.

Several builders materialize two INDEPENDENT model tables back to back
(e.g. moore_lewis_select's background type table and its in-domain
lm_train, speculative_acceptance's unigram draft counts and bigram
target counts). Each materialization is an eager localCheckpoint whose
wall cost is dominated by driver job latency locally and by a full
input pass at scale. Spark's scheduler happily runs several jobs at
once inside one application (guide §2.6 "Overlap independent jobs");
actions are only sequential because driver code calls them
sequentially — so submitting independent chains from a small thread
pool lets the later chain's tasks back-fill executors idled by the
earlier chain's tail, at any scale.

This overlaps JOB SUBMISSION only: each thunk builds and materializes
the same frames it would have built sequentially, so results are
bit-identical by construction. Thread count equals the (small, fixed)
number of independent chains a builder has — never data-sized.
"""

from __future__ import annotations

from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any, Callable


def build_concurrently(*thunks: Callable[[], Any]) -> list[Any]:
    """Run the given zero-arg builder thunks on driver threads and
    return their results in argument order. The first thunk to fail
    raises its error as soon as it fails: the others are not waited
    for (a running thunk cannot be interrupted; it finishes in the
    background and its result is dropped).

    py4j's ClientServer gives each Python thread its own JVM
    connection, and Spark job properties (description, group) are
    thread-local, so concurrent submission is safe; FIFO scheduling
    back-fills naturally.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    pool = ThreadPoolExecutor(max_workers=len(thunks))
    try:
        futures = [pool.submit(t) for t in thunks]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f.done() and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=False)

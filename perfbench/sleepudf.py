"""A mapInPandas function with a known cost: it sleeps ``SLEEP_S`` per
batch.  The traced run runs it on ``TASKS`` one-row partitions and
compares the event log's "time to run Python workers" with the known
total, which checks the metric's unit before it is summed for a
workload.  The workers import it by name, so it lives in its own module
on PYTHONPATH."""

import time

TASKS = 4
SLEEP_S = 0.25


def sleep_batches(batches):
    for pdf in batches:
        time.sleep(SLEEP_S)
        yield pdf

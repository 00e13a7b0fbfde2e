"""The corral reference example programs, ported onto the
``corral_spark.mapreduce`` facade for the ``mapreduce_etl`` workload.

* ``WordCount`` — examples/word_count: sanitize ``[^a-zA-Z0-9\\s]+`` to
  a space, lowercase, split on whitespace, emit ``(word, "")``; the
  reducer counts values.
* ``Amplab3Join`` + ``Amplab3Agg`` — examples/amplab3: a two-stage
  tagged-union reduce-side join of ``rankings`` with ``uservisits``
  before 2000-01-01, then per-source-IP averages of page rank and ad
  revenue. Revenue is summed with ``math.fsum`` so the average does not
  depend on the order the shuffle delivers values in.

The classes live in their own module so executor workers unpickle them
by import; the benchmark puts this directory on ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import math
import re

from corral_spark.mapreduce import Job, Mapper, Reducer

_NON_ALNUM = re.compile(r"[^a-zA-Z0-9\s]+")

RANKING_T, VISIT_T = 0, 1


class WordCount(Mapper, Reducer):
    def map(self, key, value, emitter):
        for word in _NON_ALNUM.sub(" ", value).lower().split():
            emitter.emit(word, "")

    def reduce(self, key, values, emitter):
        emitter.emit(key, str(sum(1 for _ in values.iter())))


class Amplab3Join(Mapper, Reducer):
    def map(self, key, value, emitter):
        fields = value.split(",")
        if len(fields) == 3:
            rec = {"t": RANKING_T, "url": fields[0], "rank": int(fields[1])}
            emitter.emit(rec["url"], json.dumps(rec))
        elif len(fields) == 9 and fields[2] < "2000-01-01":
            rec = {"t": VISIT_T, "dest": fields[1], "rev": float(fields[3]), "ip": fields[0]}
            emitter.emit(rec["dest"], json.dumps(rec))

    def reduce(self, key, values, emitter):
        buffered, rank = [], None
        for v in values.iter():
            rec = json.loads(v)
            if rec["t"] == RANKING_T:
                rank = rec["rank"]
                for visit in buffered:
                    visit["rank"] = rank
                    emitter.emit(visit["ip"], json.dumps(visit))
                buffered = []
            elif rank is not None:
                rec["rank"] = rank
                emitter.emit(rec["ip"], json.dumps(rec))
            else:
                buffered.append(rec)


class Amplab3Agg(Mapper, Reducer):
    def map(self, key, value, emitter):
        emitter.emit(key, value)

    def reduce(self, key, values, emitter):
        ranks, revs = [], []
        for v in values.iter():
            rec = json.loads(v)
            ranks.append(rec["rank"])
            revs.append(rec["rev"])
        emitter.emit(key, f"{sum(ranks) / len(ranks):f}\t{math.fsum(revs) / len(revs):f}")


def word_count_job() -> Job:
    wc = WordCount()
    return Job(wc, wc)


def amplab3_jobs() -> list[Job]:
    join, agg = Amplab3Join(), Amplab3Agg()
    return [Job(join, join), Job(agg, agg)]

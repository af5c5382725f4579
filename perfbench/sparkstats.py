"""Spark job and stage metrics scoped to one op by job tag.

The op runs under ``spark.addTag(tag)``. Classic sessions prefix the tag
(``spark-session-<uuid>-thread-<uuid>-<tag>``), so jobs are matched by
suffix. Tags are thread-local: only jobs submitted from the tagging
thread are seen.

The status store keeps the newest 1000 jobs, newest first. :class:`JobReader`
remembers the highest job id it has seen and walks only the jobs above it,
so reading right after every op never misses an evicted job and never
re-reads an old one.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input: int = 0
    input_rows: int = 0
    output: int = 0

    @property
    def wall_s(self) -> float:
        return max(self.end_ms - self.submit_ms, 0) / 1000.0


@dataclass
class JobReader:
    spark: object
    seen: int = -1
    _stages_seen: set[int] = field(default_factory=set)

    def __post_init__(self):
        self._store = self.spark._jsc.sc().statusStore()
        self.mark()

    def mark(self) -> None:
        """Skip every job submitted so far."""
        jobs = self._store.jobsList(None)
        if jobs.size():
            self.seen = max(self.seen, jobs.apply(0).jobId())

    def read(self, tag: str) -> list[Job]:
        """The finished jobs tagged ``tag`` submitted since the last read,
        oldest first. Stages a job reuses from an earlier job (skipped
        stages) count once, with the job that ran them."""
        jobs = self._store.jobsList(None)
        suffix = "-" + tag
        out = []
        newest = self.seen
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.seen:
                break
            newest = max(newest, jid)
            tags = j.jobTags().mkString("\n").split("\n")
            if not any(t == tag or t.endswith(suffix) for t in tags):
                continue
            sub, end = j.submissionTime(), j.completionTime()
            job = Job(
                jid,
                sub.get().getTime() if sub.isDefined() else 0,
                end.get().getTime() if end.isDefined() else 0,
            )
            sids = j.stageIds()
            for k in range(sids.size()):
                self._add_stage(job, sids.apply(k))
            out.append(job)
        self.seen = newest
        return sorted(out, key=lambda x: x.job_id)

    def _add_stage(self, job: Job, sid: int) -> None:
        if sid in self._stages_seen:
            return
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store no longer (or never) held
            return
        if st.status().toString() != "COMPLETE":
            return
        self._stages_seen.add(sid)
        job.stages += 1
        job.tasks += st.numCompleteTasks()
        job.task_run_ms += st.executorRunTime()
        job.task_cpu_ns += st.executorCpuTime()
        job.gc_ms += st.jvmGcTime()
        job.shuffle_write += st.shuffleWriteBytes()
        job.shuffle_read += st.shuffleReadBytes()
        job.spill += st.diskBytesSpilled()
        job.input += st.inputBytes()
        job.input_rows += st.inputRecords()
        job.output += st.outputBytes()


def phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of ``df``'s QueryExecution."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1000.0
    return out

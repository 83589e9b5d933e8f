"""A scripted, request-pure LLM client for the benchmark.

The reply depends only on the messages, never on call order (unlike
``plans.client.OfflineStubClient``, whose script is consumed
globally), so serial and concurrent synthesis trials select the same
function and a repeated intent gets the same reply. Each call sleeps a
fixed delay to stand in for model latency.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Sequence

from efficient_llm_data_wrangling_spark.functions.apply import TASK_ENTRY_POINTS
from efficient_llm_data_wrangling_spark.plans.golden import GOLDEN_BY_TASK
from efficient_llm_data_wrangling_spark.plans.prompts import system_prompt

#: Seconds each ``complete`` call waits before replying.
LLM_DELAY_S = 0.25


def identity_source(task: str) -> str:
    """A candidate that runs on every row but fails the accuracy gate
    of every task type: it echoes the input, which never equals a
    label (dates are reformatted, labels are words)."""
    return f"def {TASK_ENTRY_POINTS[task]}(s):\n    return s\n"


class ScriptedClient:
    """First synthesis turn → :func:`identity_source`; any request that
    carries a retry turn → the golden source of the task named by the
    system prompt. Counts calls (thread-safe)."""

    def __init__(self, delay_s: float = LLM_DELAY_S):
        self.delay_s = delay_s
        self.calls = 0
        self._lock = threading.Lock()
        self._task_by_prompt = {system_prompt(t): t for t in GOLDEN_BY_TASK}

    def reply(self, messages: Sequence[dict[str, str]]) -> str:
        """The response for ``messages``, without delay or counting."""
        task = self._task_by_prompt[messages[0]["content"]]
        # formulate_prompt sends [system, user]; every repair
        # iteration appends one retry turn after them
        if len(messages) > 2:
            return GOLDEN_BY_TASK[task]
        return identity_source(task)

    def complete(self, messages: Sequence[dict[str, str]]) -> str:
        with self._lock:
            self.calls += 1
        time.sleep(self.delay_s)
        return self.reply(messages)

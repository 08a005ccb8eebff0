"""A23 — REST completion notifier (side-effect sink).

Reference parity: DTEUtils.scala:23-33 — `updateLogDetail(serviceURL,
logid, logdata)` POSTs to `{serviceURL}/{logid}/{logdata}` with an
empty body and swallows EVERY error after logging it (a notification
failure must never kill the sink); called per finished logdate from
the leader epilogue (HiveBatchedSink.scala:205-227, the loop over
`getFinishedLogdateList`).

Spark form: a callable object that plugs into the
`on_complete` seam of land.land_batch / land.run_landing_stream (the
driver-side epilogue that replaces the reference's leader thread —
SURVEY.md §3.4: ZK election collapses, the driver is always leader).
Improvements over the reference, both driver-side and bounded:
  - bounded RETRIES with linear backoff (the reference fired once and
    lost the notification on a transient 5xx/connection blip — its
    own TODO at HiveBatchedSink.scala:221 wanted batch update instead);
  - the notifier object records failures (`.failed`) so a landing job
    can reconcile unnotified logdates afterward, instead of grepping
    logs the way the reference's error path required.

Stdlib-only (urllib): no HTTP client dependency in the engine.
"""

from __future__ import annotations

import logging
import time
import urllib.error
import urllib.parse
import urllib.request

logger = logging.getLogger(__name__)


class RestNotifier:
    """POST `{service_url}/{logid}/{logdate}` once per finished
    logdate. Callable with a list[str] — the exact `on_complete`
    contract of land.land_batch. Never raises: any exhausted-retry
    failure is logged and appended to `self.failed`.

    Driver-side by design (the epilogue runs in foreachBatch on the
    driver, like the reference's leader thread): the call volume is
    one tiny POST per FINALIZED partition, not per row/batch — at
    100 TB that is bounded by the partition calendar, so no executor
    distribution is warranted."""

    def __init__(
        self,
        service_url: str,
        logid: int,
        *,
        retries: int = 3,
        timeout: float = 5.0,
        backoff: float = 0.2,
    ) -> None:
        self.service_url = service_url.rstrip("/")
        self.logid = int(logid)
        self.retries = max(1, int(retries))
        self.timeout = float(timeout)
        self.backoff = float(backoff)
        self.sent: list[str] = []
        self.failed: list[str] = []

    def _post_once(self, url: str) -> int:
        req = urllib.request.Request(url, data=b"", method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.status

    def notify_one(self, logdate: str) -> bool:
        """POST one logdate; True on 2xx within the retry budget."""
        url = (
            f"{self.service_url}/{self.logid}/"
            f"{urllib.parse.quote(str(logdate), safe='')}"
        )
        for attempt in range(self.retries):
            try:
                status = self._post_once(url)
                if 200 <= status < 300:
                    self.sent.append(logdate)
                    return True
                logger.warning(
                    "notify %s attempt %d: HTTP %d", url, attempt + 1, status
                )
            except urllib.error.HTTPError as exc:  # non-2xx raises here
                logger.warning(
                    "notify %s attempt %d: HTTP %d", url, attempt + 1,
                    exc.code,
                )
            except Exception as exc:  # noqa: BLE001 — swallow like the ref
                logger.warning(
                    "notify %s attempt %d: %s", url, attempt + 1, exc
                )
            if attempt + 1 < self.retries:
                time.sleep(self.backoff * (attempt + 1))
        logger.error(
            "Fail to update LogDetail (%d, %s)", self.logid, logdate
        )
        self.failed.append(logdate)
        return False

    def __call__(self, logdates: list[str]) -> None:
        for logdate in logdates:
            self.notify_one(logdate)

"""A throwaway Postgres cluster inside the benchmark's work directory.

The server runs with the same settings on every run (``SETTINGS``): the
flush policy turns durability off (``fsync``, ``synchronous_commit``,
``full_page_writes``) so the sink is measured on its wire round trips and
statement count, not on the disk; autovacuum is off so no
background pass lands inside a timed operation. TCP on 127.0.0.1 only.

Postgres refuses to run as root; as root the server runs in a user
namespace (``unshare --user``) where it sees an unprivileged uid but keeps
access to the work directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess
import time

SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "autovacuum": "off",
    "shared_buffers": "64MB",
    "max_connections": "20",
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "",
}


START_TIMEOUT_S = 60.0


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _wrap(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    if shutil.which("unshare") is None:
        raise RuntimeError("running as root and `unshare` is missing: cannot start Postgres")
    return ["unshare", "--user", "--map-user=1000", *cmd]


class Postgres:
    def __init__(self, work_dir: str):
        self.dir = os.path.join(work_dir, "pg")
        self.data = os.path.join(self.dir, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None

    def start(self) -> None:
        for tool in ("initdb", "postgres"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"Postgres server binary `{tool}` not found")
        os.makedirs(self.dir, exist_ok=True)
        subprocess.run(
            _wrap(["initdb", "-D", self.data, "-A", "trust", "-U", "postgres",
                   "--no-instructions", "-E", "UTF8"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        args = ["postgres", "-D", self.data, "-p", str(self.port)]
        for k, v in SETTINGS.items():
            args += ["-c", f"{k}={v}"]
        self.log = open(os.path.join(self.dir, "server.log"), "w")
        self.proc = subprocess.Popen(_wrap(args), stdout=self.log, stderr=self.log)
        from ibc_spark.io_.pgwire import PgWireError

        deadline = time.monotonic() + START_TIMEOUT_S
        while True:
            try:
                self.connect().close()
                return
            except (OSError, PgWireError):  # not listening, or still starting up
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    self.stop()
                    raise RuntimeError("Postgres did not start; see pg/server.log")
                time.sleep(0.05)

    def connect(self):
        from ibc_spark.io_.pgwire import connect

        return connect(host="127.0.0.1", port=self.port, user="postgres", database="postgres")

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
        if getattr(self, "log", None):
            self.log.close()
            self.log = None

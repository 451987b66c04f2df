"""A private scratch PostgreSQL server owned by one benchmark run.

``initdb`` and ``pg_ctl`` run as the ``postgres`` system user when the
benchmark runs as root (PostgreSQL refuses to run as root). They keep
``CAP_DAC_READ_SEARCH`` so the server can reach a data directory inside
a checkout whose parent directories only root may enter. The server
listens on a private Unix socket directory (TCP on 127.0.0.1 when that
path would exceed the socket-path limit).

Flush policy, the same on both sides of any comparison: ``fsync=off``
and ``synchronous_commit=off``. The benchmark times the engine's load
path, not the disk's flush latency.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess

SOCKET_PATH_MAX = 100  # sun_path is 108 bytes including ".s.PGSQL.<port>"
FLUSH_POLICY = {"fsync": "off", "synchronous_commit": "off"}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class ScratchPostgres:
    def __init__(self, base_dir: str):
        self.base = os.path.abspath(base_dir)
        self.data = os.path.join(self.base, "data")
        self.port = 5432
        self.host = self.base
        if len(self.base) + len("/.s.PGSQL.65535") > SOCKET_PATH_MAX:
            self.host, self.port = "127.0.0.1", _free_port()

    def _run(self, args: list[str]) -> None:
        prefix = []
        if os.geteuid() == 0:
            prefix = [
                "setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
                "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search",
            ]
        proc = subprocess.run(prefix + args, capture_output=True, text=True, timeout=120)
        if proc.returncode != 0:
            raise RuntimeError(f"{args[0]} failed: {(proc.stderr or proc.stdout)[-500:]}")

    def start(self) -> None:
        for tool in ("initdb", "pg_ctl", "psql"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not found on PATH")
        os.makedirs(self.base, mode=0o700, exist_ok=True)
        if os.geteuid() == 0:
            shutil.chown(self.base, user="postgres", group="postgres")
        self._run(["initdb", "-D", self.data, "-E", "UTF8", "--no-sync",
                   "-A", "trust", "-U", "postgres"])
        listen = self.host if self.host.startswith("127.") else ""
        opts = [f"-p {self.port}", f"-k {self.base}", f"-c listen_addresses='{listen}'"]
        opts += [f"-c {k}={v}" for k, v in FLUSH_POLICY.items()]
        self._run(["pg_ctl", "-D", self.data, "-o", " ".join(opts),
                   "-l", os.path.join(self.base, "server.log"), "-w", "-t", "60", "start"])

    def stop(self) -> None:
        """Stop the server and wait for it; safe to call more than once."""
        if not os.path.exists(os.path.join(self.data, "postmaster.pid")):
            return
        try:
            self._run(["pg_ctl", "-D", self.data, "-m", "fast", "-w", "-t", "30", "stop"])
        except (RuntimeError, subprocess.TimeoutExpired):
            self._run(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "-t", "30", "stop"])

    @property
    def psql_args(self) -> list[str]:
        return ["-h", self.host, "-p", str(self.port), "-U", "postgres", "-d", "postgres"]

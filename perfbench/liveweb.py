"""A loopback multi-host web served from the benchmark process.

Host h of a `SynthSpec` is the address 127.0.x.y (see `host_ip`); one
asyncio server bound to 0.0.0.0 answers for all of them on one port, in
one event-loop thread, and tells hosts apart by the Host header. The
engine keys politeness by hostname, so each address is its own
politeness domain, as distinct servers would be. Every host's
robots.txt sets the same ``Crawl-delay``, or none when it is 0.

Pages are rendered once up front, so the server only looks them up.
The server records, per request, its arrival time (``time.perf_counter``,
the clock the benchmark's spans use), host and path, plus accepted
connections and the time spent handling requests.
"""

from __future__ import annotations

import asyncio
import threading
import time


def host_ip(h):
    return f"127.0.{h // 250}.{h % 250 + 1}"


class LiveWeb:
    def __init__(self, spec, crawl_delay):
        self.spec = spec
        self.crawl_delay = crawl_delay
        self.robots = (f"User-agent: *\nCrawl-delay: {crawl_delay:g}\n"
                       if crawl_delay else "User-agent: *\nAllow: /\n"
                       ).encode()
        self.pages = {}  # (ip, path) -> html bytes
        self.host_of_ip = {}
        for rid in range(spec.total_rows):
            h, kind, p, i = spec.locate(rid)
            if kind == "robots":
                continue
            ip = host_ip(h)
            self.host_of_ip[ip] = h
            path = spec.url_for(h, kind, p, i).split(".test", 1)[1]
            self.pages[(ip, path)] = spec.render(h, kind, p, i)[0].encode()
        self.log = []  # (arrival, ip, path, status)
        self.connections = 0
        self.handle_secs = 0.0
        self.port = None
        self._writers = set()
        self._loop = None
        self._server = None
        self._thread = None

    def base_url(self, h):
        return f"http://{host_ip(h)}:{self.port}"

    # --- lifecycle ----------------------------------------------------------

    def start(self):
        ready = threading.Event()

        def serve():
            self._loop = asyncio.new_event_loop()
            self._server = self._loop.run_until_complete(
                asyncio.start_server(self._handle, "0.0.0.0", 0))
            self.port = self._server.sockets[0].getsockname()[1]
            ready.set()
            self._loop.run_forever()
            self._loop.close()

        self._thread = threading.Thread(target=serve, name="liveweb",
                                        daemon=True)
        self._thread.start()
        if not ready.wait(10):
            raise RuntimeError("loopback web did not start")
        return self

    def stop(self):
        if self._thread is None:
            return
        asyncio.run_coroutine_threadsafe(self._shutdown(),
                                         self._loop).result(10)
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(10)
        if self._thread.is_alive():
            raise RuntimeError("loopback web did not stop")
        self._thread = None

    async def _shutdown(self):
        """Close the listener and every open connection, and wait for
        their handlers to finish."""
        self._server.close()
        for w in list(self._writers):
            w.close()
        await self._server.wait_closed()
        while self._writers:
            await asyncio.sleep(0.001)

    # --- HTTP/1.1 keep-alive handler ----------------------------------------

    async def _handle(self, reader, writer):
        self.connections += 1
        self._writers.add(writer)
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except (asyncio.IncompleteReadError, ConnectionError):
                    break
                t0 = time.perf_counter()
                lines = head.decode("latin-1").split("\r\n")
                path = lines[0].split(" ")[1]
                ip = ""
                for ln in lines[1:]:
                    if ln[:5].lower() == "host:":
                        ip = ln[5:].strip().rsplit(":", 1)[0]
                if path == "/robots.txt" and ip in self.host_of_ip:
                    status, body = 200, self.robots
                else:
                    body = self.pages.get((ip, path))
                    status = 200 if body is not None else 404
                    body = body or b""
                self.log.append((t0, ip, path, status))
                writer.write(
                    (f"HTTP/1.1 {status} {'OK' if status == 200 else 'Not Found'}\r\n"
                     f"Content-Type: text/html\r\n"
                     f"Content-Length: {len(body)}\r\n\r\n").encode() + body)
                await writer.drain()
                self.handle_secs += time.perf_counter() - t0
        finally:
            writer.close()
            self._writers.discard(writer)

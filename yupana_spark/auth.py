"""User management + role-based permissions (SURVEY.md §2.11).

Re-expresses the reference's auth layer — users with roles, a permission
matrix per role, and credential validation — against the warehouse
instead of an HBase/JDBC UserDao:

* ``yupana-core/.../auth/YupanaUser.scala`` — (name, password, role);
  ``ANONYMOUS`` is READ_ONLY.
* ``auth/TsdbRole.scala:17-52`` — the four roles and their permission
  sets: DISABLED (nothing), READ_ONLY (table+meta read, query read),
  READ_WRITE (adds table write), ADMIN (everything, incl. user
  management).
* ``auth/Permission.scala`` / ``auth/PermissionService.scala`` — the
  (subject, action) implication check, with table WRITES additionally
  gated on ``put_enabled``.
* ``auth/UserManager.scala:26-69`` — create/update/delete/find/list/
  validate with the reference's exact error strings ("User already
  exists", "User not found", "Invalid role name '<r>'"), plus the
  config-superuser short-circuit in ``validate_user``.

Deviations, both deliberate and documented: passwords hash with
PBKDF2-HMAC-SHA256 (hashlib, 216k iterations) instead of bcrypt —
bcrypt is a JVM library choice, not an observable semantic; and the
registry persists as one small JSON file under the warehouse root
(atomic tmp+rename, the artifact-store posture) instead of a UserDao
table — a user registry is metadata measured in rows, not data, and a
distributed scan would be the wrong tool at any scale.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import os
import secrets
import tempfile
import threading
from typing import Dict, List, Optional

#: role name -> permission matrix: for each subject kind, the set of
#: allowed actions (TsdbRole.scala:17-52).  Table writes are ALSO gated
#: on PermissionService.put_enabled, like the reference.
_ROLE_PERMS: Dict[str, Dict[str, frozenset]] = {
    "DISABLED": {"table": frozenset(), "user": frozenset(),
                 "metadata": frozenset(), "queries": frozenset()},
    "READ_ONLY": {"table": frozenset({"read"}), "user": frozenset(),
                  "metadata": frozenset({"read", "write"}),
                  "queries": frozenset({"read"})},
    "READ_WRITE": {"table": frozenset({"read", "write"}),
                   "user": frozenset(),
                   "metadata": frozenset({"read", "write"}),
                   "queries": frozenset({"read"})},
    "ADMIN": {"table": frozenset({"read", "write"}),
              "user": frozenset({"read", "write"}),
              "metadata": frozenset({"read", "write"}),
              "queries": frozenset({"read", "write"})},
}


def role_by_name(name: str) -> Optional[str]:
    """Case-insensitive role lookup (TsdbRole.roleByName)."""
    r = name.upper()
    return r if r in _ROLE_PERMS else None


@dataclasses.dataclass(frozen=True)
class YupanaUser:
    """≙ auth/YupanaUser.scala — the effective identity of a statement."""

    name: str
    password_hash: Optional[str] = None
    role: str = "READ_ONLY"


#: ≙ YupanaUser.ANONYMOUS (read-only when authentication is enforced)
ANONYMOUS = YupanaUser("ANONYMOUS", None, "READ_ONLY")

_PBKDF2_ITERS = 216_000


def hash_password(password: str) -> str:
    """PBKDF2-HMAC-SHA256 with a random salt, self-describing format
    (``pbkdf2$<iters>$<salt_hex>$<digest_hex>``) so the cost can be
    raised later without invalidating stored hashes."""
    salt = secrets.token_bytes(16)
    dig = hashlib.pbkdf2_hmac("sha256", password.encode(), salt,
                              _PBKDF2_ITERS)
    return f"pbkdf2${_PBKDF2_ITERS}${salt.hex()}${dig.hex()}"


def _eq_opt(a: Optional[str], b: Optional[str]) -> bool:
    """Constant-time equality over optional strings (None matches None,
    never a string — the reference's Option equality)."""
    if a is None or b is None:
        return a is None and b is None
    return secrets.compare_digest(a.encode(), b.encode())


_DUMMY: list = []


def _dummy_hash() -> str:
    """A throwaway stored hash burned on unknown-user logins so the
    response time does not reveal whether a username exists (built
    lazily once — PBKDF2 at import would tax every non-auth user)."""
    if not _DUMMY:
        _DUMMY.append(hash_password("no-such-user"))
    return _DUMMY[0]


def verify_password(password: str, stored: str) -> bool:
    try:
        scheme, iters, salt_hex, dig_hex = stored.split("$")
        if scheme != "pbkdf2":
            return False
        dig = hashlib.pbkdf2_hmac("sha256", password.encode(),
                                  bytes.fromhex(salt_hex), int(iters))
        return secrets.compare_digest(dig.hex(), dig_hex)
    except (ValueError, AttributeError):
        return False


class AuthError(Exception):
    """Typed auth failure — the Left(...) strings of the reference.

    ``sqlstate`` lets wire front-ends map the failure to the right
    PostgreSQL error class (review r16: a duplicate-create is
    42710 duplicate_object, not 42501 insufficient_privilege)."""

    def __init__(self, message: str, sqlstate: str = "42501"):
        super().__init__(message)
        self.sqlstate = sqlstate


class PermissionService:
    """≙ auth/PermissionService.scala: role matrix + the put_enabled
    correction on table writes."""

    def __init__(self, put_enabled: bool = True):
        self.put_enabled = put_enabled

    def has_permission(self, user: YupanaUser, subject: str,
                       action: str) -> bool:
        if subject == "table" and action == "write" and not self.put_enabled:
            return False
        perms = _ROLE_PERMS.get(user.role)
        return perms is not None and action in perms.get(subject, ())

    def check(self, user: YupanaUser, subject: str, action: str) -> None:
        """Raise the reference's permission-denied message
        (QueryEngineRouter.scala:166-170) unless allowed."""
        if not self.has_permission(user, subject, action):
            raise AuthError(
                f"User {user.name} doesn't have enough permissions")


class UserManager:
    """≙ auth/UserManager.scala over a warehouse-root JSON registry.

    Concurrency contract (review r16): every MUTATION takes an
    exclusive ``flock`` on a sidecar lock file around its whole
    read-modify-write, so concurrent engines (or threads) over one
    root never lose each other's updates; the store itself is written
    atomically (tmp + rename, the artifact-store posture).  READS are
    lock-free through an ``st_mtime_ns`` freshness check — best-effort
    staleness bounded by one mutation, never a torn file (the rename is
    atomic).  The optional superuser (the engine's own identity) is
    validated config-side and never stored, exactly like the
    reference's superUserName/superUserPassword pair."""

    def __init__(self, root: str, superuser: Optional[str] = None,
                 superuser_password: Optional[str] = None):
        self.path = os.path.join(root, "_users.json")
        self.superuser = superuser
        self.superuser_password = superuser_password
        self._lock = threading.Lock()
        self._cache: Dict[str, dict] = {}
        self._mtime: Optional[int] = None        # st_mtime_ns

    # -- storage ------------------------------------------------------------
    @contextlib.contextmanager
    def _flock(self):
        """Exclusive cross-process lock for read-modify-write mutations
        (a sidecar file: flocking the store itself would race the
        atomic-rename replace).  No-op where fcntl is unavailable."""
        try:
            import fcntl
        except ImportError:                      # non-POSIX: in-process
            yield                                # lock already held
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _load(self, fresh: bool = False) -> Dict[str, dict]:
        """Read-through cache keyed on st_mtime_ns (ns resolution: a
        same-second external write is still observed); ``fresh=True``
        (mutation paths, under _flock) bypasses the cache entirely so
        the read-modify-write starts from the authoritative file."""
        try:
            mt = os.stat(self.path).st_mtime_ns
        except OSError:
            self._cache, self._mtime = {}, None
            return self._cache
        if fresh or mt != self._mtime:
            with open(self.path, encoding="utf-8") as f:
                self._cache = json.load(f)
            self._mtime = mt
        return self._cache

    def _store(self, users: Dict[str, dict]) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path),
                                   prefix="_users", suffix=".json")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(users, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        self._cache = users
        try:
            self._mtime = os.stat(self.path).st_mtime_ns
        except OSError:
            self._mtime = None

    # -- UserManager surface (UserManager.scala:26-55) ----------------------
    def create_user(self, name: str, password: Optional[str],
                    role: Optional[str]) -> YupanaUser:
        """Create a registry user.  A missing password hashes as the
        EMPTY string — the reference's own semantics
        (UserManager.scala:28 ``password.getOrElse("")``, and
        validateUser:50 verifies the same default), so a
        ``CREATE USER 'x' WITH ROLE ...`` account IS loggable with
        ``password=''`` until an ALTER sets a real one; deployments
        that enable wire auth should create users with passwords."""
        r = "DISABLED" if role is None else role_by_name(role)
        if r is None:
            raise AuthError(f"Invalid role name '{role}'", "22023")
        h = hash_password(password or "")
        with self._lock, self._flock():
            users = dict(self._load(fresh=True))
            if name in users or name == self.superuser:
                raise AuthError("User already exists", "42710")
            users[name] = {"password": h, "role": r}
            self._store(users)
        return YupanaUser(name, h, r)

    def update_user(self, name: str, password: Optional[str],
                    role: Optional[str]) -> None:
        r = None
        if role is not None:
            r = role_by_name(role)
            if r is None:
                raise AuthError(f"Invalid role name '{role}'", "22023")
        h = None if password is None else hash_password(password)
        with self._lock, self._flock():
            users = dict(self._load(fresh=True))
            if name not in users:
                raise AuthError("User not found", "42704")
            u = dict(users[name])
            if h is not None:
                u["password"] = h
            if r is not None:
                u["role"] = r
            users[name] = u
            self._store(users)

    def delete_user(self, name: str) -> bool:
        with self._lock, self._flock():
            users = dict(self._load(fresh=True))
            if name not in users:
                return False
            del users[name]
            self._store(users)
        return True

    def find_user(self, name: str) -> Optional[YupanaUser]:
        with self._lock:
            u = self._load().get(name)
        if u is None:
            return None
        return YupanaUser(name, u["password"], u["role"])

    def list_users(self) -> List[YupanaUser]:
        with self._lock:
            users = self._load()
            return [YupanaUser(n, u["password"], u["role"])
                    for n, u in sorted(users.items())]

    def count(self) -> int:
        with self._lock:
            return len(self._load())

    def validate_user(self, name: str, password: Optional[str],
                      superuser_password: Optional[str] = None,
                      ) -> Optional[YupanaUser]:
        """≙ UserManager.validateUser: the config superuser matches on
        the raw pair (constant-time compare); everyone else verifies
        against the stored hash.  ``superuser_password`` overrides the
        instance's config pair for this call — the wire server owns its
        own bootstrap credential (PgWireServer(superuser_password=))
        without mutating the shared manager.  Unknown names burn the
        same PBKDF2 cost as known ones (review r16: the ~100 ms
        known-user verify was a remote username-enumeration oracle)."""
        su_pw = (superuser_password if superuser_password is not None
                 else self.superuser_password)
        if self.superuser is not None and name == self.superuser \
                and _eq_opt(password, su_pw):
            return YupanaUser(name, None, "ADMIN")
        u = self.find_user(name)
        if u is None:
            verify_password(password or "", _dummy_hash())  # equalize cost
            return None
        if verify_password(password or "", u.password_hash or ""):
            return u
        return None

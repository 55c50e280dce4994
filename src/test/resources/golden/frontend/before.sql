\set ON_ERROR_STOP
\set ECHO all
BEGIN;
DROP CAST IF EXISTS (varchar as date);
CREATE CAST (varchar as date) WITH INOUT AS IMPLICIT;
DROP CAST IF EXISTS (varchar as timestamp with time zone);
CREATE CAST (varchar as timestamp with time zone) WITH INOUT AS IMPLICIT;
DROP CAST IF EXISTS (varchar as uuid);
CREATE CAST (varchar as uuid) WITH INOUT AS IMPLICIT;
UPDATE pg_cast SET castcontext='i' WHERE castsource='character varying'::regtype AND casttarget='xml'::regtype;
CREATE SCHEMA sales;
CREATE TYPE public.orderlines AS (lineno int, sku varchar(32), price numeric(10,2));
CREATE DOMAIN public.phonenumber AS varchar(20);
CREATE TABLE sales.orderheader (
  ordercode varchar(20) NOT NULL,
  customerid int NOT NULL,
  amount numeric(12,2) NOT NULL,
  qty numeric(9,0),
  status char(1),
  orderedat timestamp,
  note text
);
CREATE TABLE sales.orderline (
  ordercode varchar(20) NOT NULL,
  lineno int NOT NULL,
  sku varchar(32) NOT NULL,
  unitprice numeric(6,4),
  qty int NOT NULL
);
CREATE TABLE public.auditlog (
  eventtime timestamp NOT NULL,
  message varchar(200),
  ratio double precision,
  tiny smallint,
  small smallint,
  big bigint,
  flag boolean,
  code char(3),
  legacy text
);
CREATE TABLE public.customer (
  customerid int GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1) NOT NULL,
  firstname varchar(50) NOT NULL,
  lastname varchar(50),
  phone varchar(20),
  email varchar(120),
  createdat timestamp NOT NULL,
  isactive boolean NOT NULL,
  balance numeric,
  nickname varchar(30),
  rowguid uuid NOT NULL,
  fullname varchar /* GENERATED ALWAYS AS ((firstname+' '+lastname)) STORED */,
  namelen varchar /* GENERATED ALWAYS AS ((LENGTH(firstname))) */
);
CREATE TABLE public.document (
  docid int NOT NULL,
  title varchar(200) NOT NULL,
  body varchar,
  blob bytea,
  thumb bytea,
  meta xml,
  published date,
  stamp timestamp with time zone,
  ownerguid uuid,
  CHECK (octet_length(thumb) <= 256)
);
COMMIT;
